package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.CatalogEntry

/** A catalog query with the module (`*Queries` object) that registers it. */
case class Entry(name: String, module: String, query: (SparkSession, String) => DataFrame)

object Catalog {

  /** The registering `*Queries` objects of each module. */
  private lazy val registry: Seq[(String, Seq[CatalogEntry])] = Seq(
    "ingest" -> graft.ingest.IngestQueries.entries,
    "clean" -> graft.clean.CleanQueries.entries,
    "enrich" -> graft.enrich.EnrichQueries.entries,
    "integrate" -> (graft.integrate.UnionQueries.entries ++ graft.integrate.JoinQueries.entries ++
      graft.integrate.ValidatorQueries.entries),
    "transform" -> graft.transform.TransformQueries.entries,
    "load" -> graft.load.LoadQueries.entries,
    "llmdata" -> graft.llmdata.LlmDataQueries.entries)

  lazy val modules: Seq[String] = registry.map(_._1)

  /** The `catalog` workload: one entry from every module, about six
    * seconds warm on four cores. `text_doc_clusters` is a capstone that
    * runs Spark jobs before its DataFrame returns; the deeper capstones
    * (`curation_pipeline_v6`, the `_dist` dedups) cost 4-9 s warm and do
    * not fit a run.
    */
  val workload: Seq[String] = Seq(
    "ingest_av_timeseries", "clean_pipeline", "w_sma", "join_asof", "transform_pipeline",
    "merge_latest_wins", "text_doc_clusters")

  lazy val entries: Seq[Entry] = {
    val byName = registry.flatMap { case (m, es) => es.map(e => e.name -> Entry(e.name, m, e.query)) }
      .toMap
    workload.map(byName)
  }

  /** The workload's `llmdata` capstones, reported one by one. */
  lazy val capstones: Seq[String] = entries.filter(_.module == "llmdata").map(_.name)

  /** Pass `p` of a run: the workload's entries in a seeded order. */
  def pass(seed: Long, p: Int): Seq[Entry] = new Random(seed * 7919L + p).shuffle(entries)
}
