package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** One query of a workload: `build` is the library call that returns the
  * lazy frame; the harness then executes it through [[Sink]]. */
final case class Query(name: String, build: SparkSession => DataFrame)

/** A workload: the queries one closed-loop client sends, in pass order. */
trait Workload {
  def queries: Seq[Query]
  /** Rows of input a pass reads, for rows_per_s. */
  def inputRowsPerPass: Long

  /** Untimed output run: writes every query's result as parquet to
    * `<out>/results/<query>` for run.py to check; returns the queries that
    * threw, with the reason. */
  def writeResults(spark: SparkSession, outDir: String): Map[String, String] = {
    val results = new java.io.File(outDir, "results")
    queries.flatMap { q =>
      try {
        q.build(spark).write.mode("overwrite")
          .parquet(new java.io.File(results, q.name).getAbsolutePath)
        None
      } catch {
        case e: Exception => Some(q.name -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      } finally Harness.releaseCaches(spark)
    }.toMap
  }
}

object Workload {
  def apply(name: String, data: String, seed: Long): Workload = name match {
    case "grid_reduce" => new Grid(data, GridQueries.reduce)
    case "grid_scan" => new Grid(data, GridQueries.scan)
    case "catalog" => new Catalog(data, seed, CatalogQueries.rows)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def parquetRows(path: String): Long =
    org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        new org.apache.hadoop.conf.Configuration(), new org.apache.hadoop.fs.Path(path))
      .getBlocks.toArray.map(_.asInstanceOf[org.apache.parquet.hadoop.metadata.BlockMetaData].getRowCount).sum
}

/** The seeded synthetic array from gen.py, read from its parquet.
  * grid_reduce: few-group (doy) reductions over every family of the
  * aggregation registry. grid_scan: a many-group (cell) reduction and
  * full-size grouped scans. check.py holds the references. */
object GridQueries {
  // w lies in (0, 1]; bins 0 and 1 stay empty and take the fill value
  // (check.BIN_EDGES repeats these edges)
  val BinEdges: Seq[Double] = Seq(-1.0, -0.5, 0.0, 0.25, 0.5, 0.75, 1.0)

  val reduce: Seq[(String, DataFrame => DataFrame)] = Seq(
    "reduce_doy" -> (df => GroupByReduce.reduce(df, Seq("doy"), Seq(
      Agg("count", "v", "n"),
      Agg("nansum", "v", "sum_v"),
      Agg("nanmean", "v", "mean_v"),
      Agg("nanvar", "v", "var_v", ddof = 1),
      Agg("nanmin", "v", "min_v"),
      Agg("nanmax", "v", "max_v"),
      Agg("sum", "cents", "sum_cents"),
      Agg("sum", "w", "sum_w", exactScale = Some(2))))),
    "positional_doy" -> (df => GroupByReduce.reduce(df, Seq("doy"), Seq(
      Agg("nanargmax", "v", "argmax_t"),
      Agg("nanfirst", "v", "first_v"),
      Agg("nanlast", "v", "last_v")), pos = Some(col("t")))),
    "covcorr_doy" -> (df => FeatureScaling.covCorrBy(df, Seq("doy"), "v", "w")),
    "bins_expected" -> (df => GroupByReduce.reduce(
      df.withColumn("wbin", Binning.binIndex(col("w"), BinEdges)), Seq("wbin"), Seq(
        Agg("count", "v", "n", fill = Some(0L)),
        Agg("sum", "cents", "sum_cents", fill = Some(0L))),
      expected = Some(Binning.binsDf(df.sparkSession, "wbin", BinEdges)))))

  val scan: Seq[(String, DataFrame => DataFrame)] = Seq(
    "reduce_cell" -> (df => GroupByReduce.reduce(df, Seq("cell"), Seq(
      Agg("count", "v", "n"),
      Agg("nansum", "v", "sum_v"),
      Agg("nanmean", "v", "mean_v"),
      Agg("nanmin", "v", "min_v"),
      Agg("nanmax", "v", "max_v"),
      Agg("sum", "cents", "sum_cents")))),
    "nancumsum_cell" -> (df => GroupByScan.scan(df, "v", Seq("cell"), "nancumsum", Seq(col("t")), "acc")),
    "ffill_doy" -> (df => GroupByScan.scan(df, "v", Seq("doy"), "ffill", Seq(col("t")), "acc")),
    "bfill_doy" -> (df => GroupByScan.scan(df, "v", Seq("doy"), "bfill", Seq(col("t")), "acc")))
}

final class Grid(path: String, grid: Seq[(String, DataFrame => DataFrame)]) extends Workload {
  val queries: Seq[Query] = grid.map { case (n, f) => Query(n, s => f(s.read.parquet(path))) }
  lazy val inputRowsPerPass: Long = Workload.parquetRows(path) * queries.size
}

/** Rows of `SparkEntry.queries`, run on the committed sf0.01 tables: one
  * row of each family, so that one run (set-up, cold pass, warm passes
  * and the output check) fits the benchmark's time budget on 4 cores. */
object CatalogQueries {
  val rows: Seq[String] = Seq(
    // defined in SparkEntry itself: a grouped reduction, a quantile, a
    // high-cardinality reduction, expected groups, binning, a scan, an agg
    // state and a bucketed layout join
    "q_nanvar", "q_median", "q_highcard", "q_expected_fill", "q_bins",
    "q_cumsum", "q_agg_state", "q_bucketed_join",
    // streaming replays: deduplicating state, and a model-backed row (the
    // Kneser-Ney language model, fitted once per process)
    "q_stream_dedup", "q_stream_kn")
}

final class Catalog(dir: String, seed: Long, names: Seq[String]) extends Workload {
  // the tables are fixed, so the seed only permutes the order of a pass
  val queries: Seq[Query] = new scala.util.Random(seed).shuffle(names)
    .map(n => Query(n, s => graft.SparkEntry.queries(n)(s, dir)))

  lazy val inputRowsPerPass: Long = new java.io.File(dir).listFiles()
    .filter(_.getName.endsWith(".parquet")).map(f => Workload.parquetRows(f.getAbsolutePath))
    .sum * queries.size

  /** Also writes oracle_sql.json next to the results: the layout
    * tools/check_oracle.py compares with its DuckDB oracle. */
  override def writeResults(spark: SparkSession, outDir: String): Map[String, String] = {
    val threw = super.writeResults(spark, outDir)
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    java.nio.file.Files.writeString(new java.io.File(outDir, "results/oracle_sql.json").toPath,
      Json.write(oracle))
    threw
  }
}
