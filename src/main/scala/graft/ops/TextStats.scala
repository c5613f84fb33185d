package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for corpus curation: language ID (char-n-gram
  * heuristic), quality scoring, token counting, and winnowing document
  * fingerprints — training-data pipeline ops.
  */
object TextStats {

  /** Tiny per-language character-trigram profiles — single-sourced from
    * [[graft.plans.LangIdRuntime.Profiles]] since round 6 so the native
    * expression, the (spec-pinned) Catalyst formulation, and the DuckDB
    * oracle SQL can never drift. Score = non-overlapping marker occurrences
    * per language; argmax with 'und' fallback. */
  private val Profiles: Map[String, Seq[String]] =
    graft.plans.LangIdRuntime.Profiles.toMap

  /** Non-overlapping occurrence count of literal `g` in `t` — pure Catalyst
    * (length-difference after replace), identical in DuckDB. The difference
    * is always an exact multiple of the gram length, so the cast is exact. */
  private def occurrences(t: Column, g: String): Column =
    ((length(t) - length(replace(t, lit(g), lit("")))) / g.length).cast("long")

  /** Language ID: the native single-pass scan [[graft.plans.LangIdExpr]]
    * (round 6) — value-identical to the replace-based marker-gram
    * formulation (LangIdSpec pins it; the q_lang_id oracle is unchanged and
    * generated from the same profile constants), but lowercases once and
    * counts all 50 markers over one buffer instead of evaluating fifty
    * replace() copies of the text per document (ties -> language name
    * order; < 2 hits or null text -> "und"). */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      graft.plans.GraftExtensions.langId(col(textCol)).as("lang_pred"))

  /** Quality stats, all integer-exact (oracle-friendly): chars, tokens,
    * non-space chars, longest token, alpha-char count. */
  def quality(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = filter(split(col(textCol), " "), t => length(t) > 0)
    docs.select(
      col(idCol).as("doc_id"),
      length(col(textCol)).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      length(regexp_replace(col(textCol), " ", "")).cast("long").as("n_nonspace"),
      coalesce(array_max(transform(toks, t => length(t))), lit(0)).cast("long")
        .as("max_token_len"))
  }

  /** Winnowing fingerprint (Schleimer et al., SIGMOD'03): rolling hashes of
    * char k-grams, minimum per window, distinct — the standard near-dup /
    * provenance fingerprint. mode=PortableMd5 swaps xxhash64 for md5h60 so
    * DuckDB replays the selection bit-exactly (q_fingerprint oracle). */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 8, window: Int = 4,
                   mode: HashMode = HashMode.XxHash): DataFrame = {
    val txt = col(textCol)
    // Shape note (round 6): the whole per-doc fingerprint is ONE native
    // single-pass expression (graft.plans.WinnowFpExpr) — winnowing is
    // per-document-local, so the previous posexplode + frame-window +
    // collect_set formulation paid an ~8x row inflation and a doc_id
    // shuffle at ANY scale for work that never needed to leave its input
    // partition. Zero exchanges now; value-identical (WinnowFpSpec pins
    // both hash modes against the old formulation, and the q_fingerprint
    // DuckDB oracle is unchanged). The nGrams filter below matches the old
    // pre-explode guard; the size filter is the old post-aggregation filter
    // (vacuous for nGrams >= 1, kept for exact shape parity).
    val nGrams = length(txt) - (k - 1)
    docs
      .filter(nGrams >= 1)
      .select(col(idCol).as("doc_id"),
        graft.plans.GraftExtensions.winnowFp(txt, k, window,
          mode == HashMode.PortableMd5).as("fingerprint"))
      .filter(size(col("fingerprint")) > 0)
  }

  // ---- DuckDB oracle generators (exact replays of the PortableMd5 mode) ----

  /** DuckDB replay of fingerprints(mode=PortableMd5) over `documents`,
    * emitting (doc_id, n_fp, fp_min). `filterSql` ("", or "AND <pred>")
    * narrows the document set, matching a Spark-side pre-filter. */
  def fingerprintOracleSql(k: Int = 8, window: Int = 4, filterSql: String = ""): String = {
    // Spark pos is 0-based with pos < nkeep; SQL i is 1-based with i <= nkeep
    s"WITH g AS (SELECT doc_id, text, greatest(length(text) - ${k - 1 + window - 1}, 1) AS nkeep, " +
      s"unnest(range(1, length(text) - ${k - 2})) AS i FROM documents WHERE length(text) >= $k $filterSql), " +
      s"h AS (SELECT doc_id, nkeep, i, ${Portable.md5h60Sql(s"substr(text, i, $k)")} AS h FROM g), " +
      "win AS (SELECT doc_id, nkeep, i, min(h) OVER (PARTITION BY doc_id ORDER BY i " +
      s"ROWS BETWEEN CURRENT ROW AND ${window - 1} FOLLOWING) AS wm FROM h) " +
      "SELECT doc_id, cast(count(DISTINCT wm) AS BIGINT) AS n_fp, min(wm) AS fp_min " +
      "FROM win WHERE i <= nkeep GROUP BY doc_id"
  }

  /** DuckDB replay of langId over `documents` (same profiles, same
    * non-overlapping counting, same tie-break and threshold). */
  def langIdOracleSql: String = {
    val hitCols = Profiles.toSeq.sortBy(_._1).map { case (lang, grams) =>
      val sum = grams.map(g =>
        s"((length(t) - length(replace(t, '$g', ''))) // ${g.length})").mkString(" + ")
      s"($sum) AS h_$lang"
    }.mkString(", ")
    val structs = Profiles.keys.toSeq.sorted.map(l =>
      s"{'nh': -h_$l, 'lang': '$l'}").mkString(", ")
    "WITH t AS (SELECT doc_id, ' ' || lower(text) || ' ' AS t FROM documents), " +
      s"hits AS (SELECT doc_id, $hitCols FROM t), " +
      s"best AS (SELECT doc_id, list_sort([$structs])[1] AS b FROM hits) " +
      "SELECT doc_id, CASE WHEN -(struct_extract(b, 'nh')) >= 2 " +
      "THEN struct_extract(b, 'lang') ELSE 'und' END AS lang_pred FROM best"
  }
}
