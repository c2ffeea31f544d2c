package graft.perfbench

import graft.{Query, SparkEntry}
import graft.operators._
import graft.streaming.StreamingOps

/** Assignment of every registry query to exactly one workload: a query
  * whose name starts with `stream_` belongs to `stream_drain`, every other
  * query to the workload of the module that defines it.
  */
object Workloads {

  val names: Seq[String] = Seq("etl_read", "lake_write", "llm_curation",
    "stream_drain")

  private val modules: Seq[(String, String, Seq[Query])] = Seq(
    ("RefParity", "etl_read", RefParity.queries),
    ("RefPipeline", "etl_read", RefPipeline.queries),
    ("Relational", "etl_read", Relational.queries),
    ("TimeWindows", "etl_read", TimeWindows.queries),
    ("Lakehouse", "lake_write", Lakehouse.queries),
    ("Dedup", "llm_curation", Dedup.queries),
    ("Similarity", "llm_curation", Similarity.queries),
    ("TextAnalysis", "llm_curation", TextAnalysis.queries),
    ("Curation", "llm_curation", Curation.queries),
    ("Multimodal", "llm_curation", Multimodal.queries),
    ("Graph", "llm_curation", Graph.queries),
    ("StreamingOps", "stream_drain", StreamingOps.queries))

  final case class Member(query: Query, module: String, workload: String)

  /** Every registry query with its module and workload, in registry order.
    * Fails if a registry query has no module here or appears twice, so a
    * module added to the registry cannot silently drop out of the bench. */
  lazy val all: Seq[Member] = {
    val byName = modules.flatMap { case (module, workload, qs) =>
      qs.map { q =>
        val w = if (q.name.startsWith("stream_")) "stream_drain" else workload
        q.name -> (module, w)
      }
    }
    val dup = byName.groupBy(_._1).collect { case (n, xs) if xs.size > 1 => n }
    require(dup.isEmpty, s"queries defined twice: ${dup.mkString(", ")}")
    val where = byName.toMap
    val missing = SparkEntry.registry.map(_.name).filterNot(where.contains)
    require(missing.isEmpty, s"queries without a workload: ${missing.mkString(", ")}")
    SparkEntry.registry.map { q =>
      val (m, w) = where(q.name)
      Member(q, m, w)
    }
  }

  def of(workload: String): Seq[Member] = {
    require(names.contains(workload), s"unknown workload $workload")
    all.filter(_.workload == workload)
  }
}
