package graft

import graft.kg.{KgModel, ScoredRelation, Stages}
import graft.text.Extract
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spec-scope oracles: the udf formulations the native Catalyst paths
  * replaced, kept so equivalence specs can compare row for row. */
object Oracles {

  /** A3 — the udf() wrapper of the pinned extractor; the production path is
    * the native `extract_text` expression (PlanAuditSpec asserts equality). */
  val extractTextUdf = udf((html: Array[Byte]) => Extract.text(html))

  /** The round-3 udf+explode implementation of [[Stages.relations]] —
    * superseded as the production path by the native
    * [[graft.plans.RelationsGenExpr]] Generator (zero per-token String
    * deserialization, direct InternalRow emission), kept as the oracle for
    * RelationsGenSpec's row-for-row equivalence assertion. */
  def relationsUdf(tokenized: DataFrame, model: Broadcast[KgModel],
                   pageMarkers: Boolean = false): DataFrame = {
    val scoreUdf = udf { (tokens: Seq[String], anchor: Boolean, inScope: Boolean) =>
      val m = model.value
      val rels: Seq[ScoredRelation] =
        if (tokens == null || !inScope) Seq.empty
        else {
          // Spark hands the array column as a mutable.ArraySeq wrapper —
          // already IndexedSeq; the old toIndexedSeq COPIED every token
          // array once per row (~6% of executor CPU in the round-4 JFR)
          val toks: scala.collection.IndexedSeq[String] = tokens match {
            case is: scala.collection.IndexedSeq[String @unchecked] => is
            case other => other.toIndexedSeq
          }
          val ms = m.scanMentions(toks)
          if (ms.length >= 2) m.scoreRelations(toks, ms) else Seq.empty[ScoredRelation]
        }
      if (anchor)
        rels :+ ScoredRelation(null,
          if (inScope) Stages.PageMarkerIn else Stages.PageMarkerOut, null, 0.0)
      else rels
    }
    val (anchorCol, inScopeCol) = Stages.markerCols(pageMarkers)
    tokenized
      .select(col("url"), col("part_id"),
        explode(scoreUdf(col("tokens"), anchorCol, inScopeCol)).as("rel"))
      .select(col("url"), col("part_id"),
        col("rel.subj").as("subj"), col("rel.pred").as("pred"),
        col("rel.obj").as("obj"), col("rel.score").as("score"))
  }
}
