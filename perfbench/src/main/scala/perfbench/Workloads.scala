package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws}

import graft.SparkEntry
import graft.features.{Features, Targets}
import graft.oracle.SparkSql
import graft.source.Bars
import graft.streaming.Streams

/** One distinct operation of a workload; a round runs each op once. */
final case class Op(name: String, family: String)

/** A workload: its inputs, its ops and the outputs its checks read.
  * `data` is the generated input directory, `work` a scratch directory of
  * the run. */
trait Workload {
  def ops: IndexedSeq[Op]
  /** Session settings beyond `graft.GraftSession.builder`'s. */
  def conf: Map[String, String] = Map.empty
  /** Input staging during set-up. */
  def stage(spark: SparkSession): Unit = ()
  /** Runs `op` once, its result into `sink`: noop in the timed phase; in
    * set-up, [[checkSink]]. */
  def run(spark: SparkSession, op: Op, t: Tracer, sink: DataFrame => Unit = Workloads.noop): Unit
  /** Set-up's sink for `op`: writes the output the checks read under `out`. */
  def checkSink(op: Op, out: String): DataFrame => Unit
  /** Untimed, after the timed phase: facts the checks need, as JSON fields. */
  def checkFacts(spark: SparkSession): Seq[(String, String)]
  /** The op's input read alone into noop (traced runs only). */
  def scan(spark: SparkSession): Unit
}

object Workloads {
  /** Registered query name → the family `queries.family.*_s` reports. */
  def family(name: String): String = {
    val p = name.takeWhile(_ != '_')
    if (name.matches("q\\d+_.*")) "tpch"
    else if (Set("graph", "feat", "window", "join", "dedup", "sim", "ml")(p)) p
    else if (Set("text", "corpus", "tokenizer", "quality", "decontam")(p)) "text"
    else "other"
  }

  val Tables: Seq[String] = Seq("lineitem", "orders", "customer", "supplier",
    "part", "nation", "region", "events", "documents", "embeddings")

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(name: String, data: String, work: String): Workload = name match {
    case "features_tiled" => new FeaturesTiled(data)
    case "sql_small" => new SqlSmall(data, work)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

import Workloads._

/** The headline op: the 49-feature pipeline plus target over the bars of
  * 100,000 events (generator scale 0.1) tiled into 10 symbol copies,
  * 1,000,000 rows into a noop sink. */
final class FeaturesTiled(data: String) extends Workload {
  private val copies = 10
  val ops = IndexedSeq(Op("features_tiled", "features"))

  private def tiled(spark: SparkSession): DataFrame =
    Bars.bars(spark, data)
      .crossJoin(spark.range(copies).select(col("id").as("_copy")))
      .withColumn("symbol", concat_ws("_", col("symbol"), col("_copy")))
      .drop("_copy")

  def run(spark: SparkSession, op: Op, t: Tracer, sink: DataFrame => Unit): Unit = {
    val df = t.span("construct", "features.construct_s") {
      Targets.withTarget(Features.computeAllFeatures(tiled(spark)))
    }
    t.analyzed(df)
    t.span("execute")(sink(df))
  }

  def checkSink(op: Op, out: String): DataFrame => Unit =
    _.write.mode("overwrite").parquet(s"$out/tiled")

  def checkFacts(spark: SparkSession): Seq[(String, String)] =
    Seq("copies" -> copies.toString,
      "rows_per_op" -> (Bars.readEvents(spark, data).count() * copies).toString,
      "oracle_sql" -> s"{${jstr("ml_matrix")}:${jstr(SparkEntry.oracleSql("ml_matrix"))}}")

  def scan(spark: SparkSession): Unit = noop(Bars.readEvents(spark, data))
}

/** Small-data ops, where per-op fixed cost (analysis, planning, codegen,
  * job scheduling, query start) dominates. An op runs one query through one
  * user surface: `sql.<name>` its certified SQL statement through
  * `spark.sql` over views registered in set-up, `df.<name>` its registered
  * DataFrame function (iterative operators run their rounds while the query
  * is built). One op per round,
  * `stream.micro_batch`, is a micro-batch of the streaming ingestion
  * pipeline ([[MicroBatches]]). */
final class SqlSmall(data: String, work: String) extends Workload {
  val ops: IndexedSeq[Op] = (SqlSmall.Ops.map(o => Op(o, family(o.dropWhile(_ != '.').tail))) :+
    Op("stream.micro_batch", "stream")).toIndexedSeq
  private val queryOps = ops.filter(_.family != "stream")
  private val stream = new MicroBatches(data, work)

  override def conf: Map[String, String] = MicroBatches.Conf

  override def stage(spark: SparkSession): Unit =
    Tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").createOrReplaceTempView(t))

  private def build(spark: SparkSession, op: Op, t: Tracer): DataFrame = {
    val surface = op.name.takeWhile(_ != '.')
    val name = op.name.dropWhile(_ != '.').tail
    surface match {
      case "sql" =>
        val text = t.span("bridge", "oracle.bridge_s")(SparkSql.statement(name).get)
        t.span("construct")(spark.sql(text))
      case "df" =>
        t.span("construct", "queries.construct_s")(SparkEntry.queries(name)(spark, data))
    }
  }

  def run(spark: SparkSession, op: Op, t: Tracer, sink: DataFrame => Unit): Unit =
    if (op.family == "stream") stream.run(spark, t)
    else {
      val df = build(spark, op, t)
      t.analyzed(df)
      t.span("execute")(sink(df))
    }

  /** One partition keeps the rows in the order the checks compare. The
    * micro-batch's output is the upsert table, read after the timed phase. */
  def checkSink(op: Op, out: String): DataFrame => Unit =
    _.coalesce(1).write.mode("overwrite").parquet(s"$out/${op.name}")

  def checkFacts(spark: SparkSession): Seq[(String, String)] = {
    val sql = queryOps.map { o =>
      s"${jstr(o.name)}:${jstr(SparkEntry.oracleSql(o.name.dropWhile(_ != '.').tail))}"
    }
    ("oracle_sql" -> sql.mkString("{", ",", "}")) +: stream.checks
  }

  def scan(spark: SparkSession): Unit = Tables.foreach(t => noop(spark.table(t)))
}

object SqlSmall {
  /** One query per operator family but `feat` (the features layer is
    * `features_tiled`'s) and `other`, left out to keep a run's time inside
    * the benchmark's budget; the surface is the op name's prefix. */
  val Ops: Seq[String] = Seq(
    "sql.q5_local_supplier", "sql.join_asof_tol", "df.window_cusum",
    "df.dedup_minhash", "df.sim_kmeans", "df.graph_degrees", "df.text_stats",
    "df.ml_ks_stat")
}

/** Streaming ingestion, one micro-batch per call: the next staged file lands
  * in the source directory and an AvailableNow run of watermark dedup → RSI
  * (transformWithState on RocksDB) → upsert sink consumes it, into one
  * table and checkpoint under the run's work directory. */
final class MicroBatches(data: String, work: String) {
  private val staged: IndexedSeq[Path] =
    Files.list(Paths.get(data, "stream")).iterator.asScala
      .filter(_.toString.endsWith(".parquet")).toIndexedSeq.sortBy(_.getFileName.toString)
  private val dir: Path = Files.createDirectories(Paths.get(work, "stream", "src")).getParent
  private var next = 0
  private def table = dir.resolve("table").toString

  def run(spark: SparkSession, t: Tracer): Unit = {
    require(next < staged.size, s"all ${staged.size} staged batches consumed")
    val f = staged(next)
    Files.copy(f, dir.resolve("src").resolve(f.getFileName), StandardCopyOption.COPY_ATTRIBUTES)
    next += 1
    val q = t.span("construct") {
      val src = spark.readStream.schema(MicroBatches.Schema)
        .option("maxFilesPerTrigger", 1).parquet(dir.resolve("src").toString)
      Streams.sinkUpsert(Streams.pipelineDedupRsi(src), table,
        dir.resolve("ckpt").toString, Seq("symbol", "event_id"), "event_id")
    }
    t.span("execute")(q.awaitTermination())
    q.exception.foreach(e => throw e)
    if (t ne NoTrace) {
      val files = Files.walk(Paths.get(table)).iterator.asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
      t.add("source.table_files", files.size.toDouble)
      t.add("source.table_mb", files.map(Files.size).sum / 1048576.0)
    }
  }

  def checks: Seq[(String, String)] =
    Seq("table" -> jstr(table),
      "staged" -> staged.take(next).map(p => jstr(p.toString)).mkString("[", ",", "]"))
}

object MicroBatches {
  val Schema = org.apache.spark.sql.types.StructType.fromDDL(
    "symbol STRING, event_id BIGINT, ts TIMESTAMP, close DOUBLE")
  /** transformWithState needs the RocksDB state store. */
  val Conf = Map("spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
}
