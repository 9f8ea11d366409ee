package perfbench

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.Similarity

/** Retrieval-side measurements of the reads in `ingest_drain`: exact
  * recall and the per-request layer metrics. */
object Serving {
  import Main.{M, Outcome, mean}

  private val queries = TrieMap.empty[String, (Seq[Tracer.Queries.Query], Int, Int)]

  /** Keep the executed plans of request `unit` with its query and result
    * row counts. */
  def note(unit: String, qs: Seq[Tracer.Queries.Query], nQueries: Int, nRows: Int): Unit =
    if (qs.nonEmpty) queries(unit) = (qs, nQueries, nRows)

  /** Mean recall@k of `rows` (q_id, c_id) against exact cosine top-k. */
  def recall(rows: Array[Row], qs: DataFrame, corpus: DataFrame, k: Int): Double = {
    val exact = Similarity.cosineTopK(qs, corpus, k).select(col("q_id"), col("c_id"))
      .collect().groupBy(_.getLong(0)).map { case (q, r) => q -> r.map(_.getLong(1)).toSet }
    val got = rows.groupBy(_.getLong(0)).map { case (q, r) => q -> r.map(_.getLong(1)).toSet }
    mean(exact.toSeq.map { case (q, e) =>
      (got.getOrElse(q, Set.empty[Long]) intersect e).size.toDouble / k })
  }

  /** Per-request metrics over the traced request spans `reads`. */
  def layers(reads: Seq[Tracer.Span], out: Outcome): Unit = {
    val stats = reads.flatMap(s => queries.get(s.unit))
    def joins(qs: Seq[Tracer.Queries.Query]) =
      qs.flatMap(_.nodes.filter(_.name.contains("Join")).map(_.rowsOut))
    out.layers ++= Seq(
      M("functions.similarity.exec_ms",
        mean(stats.map(_._1.map(_.durationNs / 1e6).sum)), "ms"),
      M("functions.similarity.jobs_per_request",
        mean(reads.map(Tracer.jobsIn(_).length.toDouble)), "count"),
      M("functions.similarity.shuffle_kb_per_request",
        mean(reads.map(Tracer.jobsIn(_).map(_.shuffleBytes.get).sum / 1e3)), "KB"),
      M("functions.similarity.candidates_per_query", mean(stats.map { case (qs, nq, _) =>
        joins(qs).maxOption.getOrElse(0L).toDouble / nq }), "count"),
      // 0 when the serving plan ranks without the GraftTopKPerKey node
      M("plans.topk_yield", mean(stats.map { case (qs, _, nr) =>
        val in = qs.flatMap(_.nodes.filter(_.name.startsWith("GraftTopKPerKeyPartial"))
          .map(_.rowsIn)).sum
        if (in <= 0) 0.0 else nr.toDouble / in }), "ratio"))
  }
}
