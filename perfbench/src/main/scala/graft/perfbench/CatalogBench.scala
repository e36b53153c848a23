package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.{Q, SparkEntry}

/** Catalog workloads: a fixed list of `SparkEntry.queries`, each op one
  * query's build (the query function) plus its serve (a noop-sink write). */
final class CatalogBench(spark: SparkSession, names: Seq[String], tracer: Tracer) {
  private val fns = SparkEntry.queries

  /** Runs `name`; the op spans carry the module that defines the query. */
  def op(name: String, dataDir: String, id: Long, trace: Boolean): Boolean = {
    spark.catalog.clearCache()
    val m = CatalogBench.moduleOf(name)
    try {
      if (!trace) fns(name)(spark, dataDir).write.mode("overwrite").format("noop").save()
      else tracer.span(s"$m.query", id) {
        val df = tracer.span(s"$m.build", id)(fns(name)(spark, dataDir))()
        tracer.span(s"$m.serve", id)(df.write.mode("overwrite").format("noop").save())()
      }()
      true
    } catch {
      case e: Throwable =>
        Main.log(s"$name failed: ${e.getMessage}")
        false
    }
  }

  /** Invokes every query function without serving its result: the eager
    * artifact builds. Returns the names that failed. */
  def build(dataDir: String): Seq[String] =
    names.filterNot { name =>
      spark.catalog.clearCache()
      try { fns(name)(spark, dataDir); true }
      catch {
        case e: Throwable =>
          Main.log(s"$name failed: ${e.getMessage}")
          false
      }
    }

  /** Untimed pass writing every result and its oracle SQL for the DuckDB
    * comparison. Returns the names that failed to run. */
  def dump(dataDir: String, out: Path): Seq[String] = {
    val failed = names.filterNot { name =>
      spark.catalog.clearCache()
      try {
        fns(name)(spark, dataDir).coalesce(1).write.mode("overwrite")
          .parquet(out.resolve(name).toString)
        true
      } catch {
        case e: Throwable =>
          Main.log(s"$name failed: ${e.getMessage}")
          false
      }
    }
    val oracle = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
    Files.write(out.resolve("oracle_sql.json"),
      Json.obj(oracle.map { case (k, v) => k -> Json.str(v) }).getBytes(StandardCharsets.UTF_8))
    failed
  }
}

object CatalogBench {
  /** The `catalog_mix` queries: one per catalog module. */
  val mix: Seq[String] = Seq(
    "q90_ngram_decontam",  // TextOps: n-gram decontamination
    "q47_quality_filter",  // PipelineOps: quality filter
    "q67_stream_quality",  // StreamingOps: streaming quality gate
    "q40_cosine_topk",     // VectorOps: exact cosine top-k
    "q130_heavy_hitters",  // Relational: heavy hitters
    "q135_session_window", // EventOps: session windows
    "q129_pagerank",       // GraphOps: PageRank
    "q142_shard_manifest", // LayoutOps: shard manifest
    "q139_quantile_mv",    // MaterializedViewOps: quantile view
    "q119_media_dedup",    // MultimodalOps: media dedup
    "q58_bm25")            // RetrievalOps: BM25

  val modules: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> graft.ops.Relational.catalog,
    "Ingest" -> graft.ops.Ingest.catalog,
    "TextOps" -> graft.ops.TextOps.catalog,
    "VectorOps" -> graft.ops.VectorOps.catalog,
    "EventOps" -> graft.ops.EventOps.catalog,
    "MultimodalOps" -> graft.ops.MultimodalOps.catalog,
    "PipelineOps" -> graft.ops.PipelineOps.catalog,
    "RetrievalOps" -> graft.ops.RetrievalOps.catalog,
    "LayoutOps" -> graft.ops.LayoutOps.catalog,
    "GraphOps" -> graft.ops.GraphOps.catalog,
    "MaterializedViewOps" -> graft.ops.MaterializedViewOps.catalog,
    "StreamingOps" -> graft.streaming.StreamingOps.catalog)

  val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
}
