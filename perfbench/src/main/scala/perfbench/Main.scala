package perfbench

import java.io.PrintWriter
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.core.{GraftSession, SessionHygiene, Tables}
import graft.sources.KvBlock
import org.apache.spark.PerfbenchBus
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.Platform

/** Row count and order-independent content digest of a full result. */
final case class Digest(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

object Materialize {

  /** One action on the frame's own, already planned physical plan. Every
    * output column of every row is computed and hashed inside the tasks,
    * so no column can be pruned away and the planner runs only once. */
  def apply(df: DataFrame): Digest = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      of(qe.executedPlan.execute(), qe.executedPlan.schema)
    }
  }

  private def of(rdd: RDD[InternalRow], schema: StructType): Digest = {
    val parts = rdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      while (it.hasNext) {
        val u = proj(it.next())
        n += 1
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      }
      Iterator.single((n, h))
    }.collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def ofBytes(b: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
}

/** The reference's headline ingest job: paged fetch, KV render and parse,
  * rule filter, partitioned text sink (the same operator chain as
  * `graft.Bench.corpusPipeline`, built here so its prefixes can be timed). */
object Ingest {

  def scan(spark: SparkSession, pages: Int): DataFrame =
    spark.read.format("graft-paged")
      .option("pages", pages.toString).option("pagesize", "10")
      .option("pagesperpartition", "64").load()

  def parsed(raw: DataFrame): DataFrame =
    raw.withColumn("block", KvBlock.renderBlock(Seq(
        "机构名称" -> col("name"),
        "统一社会信用代码" -> col("credit_code"),
        "机构类型" -> col("institution_type"),
        "区域编号" -> col("region_code"))))
      .withColumn("kv", KvBlock.parseBlock(col("block")))
      .select(
        col("block"),
        KvBlock.field(col("kv"), "机构名称").as("name"),
        KvBlock.field(col("kv"), "机构类型").as("institution_type"),
        KvBlock.field(col("kv"), "区域编号").as("region_code"))
      .withColumn("province_code", substring(col("region_code"), 1, 2))
      .filter(col("institution_type") === "非营利性" || col("province_code") === "14")

  /** Run the whole job once; returns the records it wrote. */
  def write(spark: SparkSession, pages: Int, out: String): Long = {
    KvBlock.ensureLastWin(spark)
    val obs = Observation("perfbench_ingest")
    KvBlock.writePartitioned(
      parsed(scan(spark, pages)).observe(obs, count(lit(1)).as("n")),
      col("block"), Seq("province_code"), out, coalescePartitions = false)
    obs.get("n").asInstanceOf[Long]
  }

  final case class Tree(records: Long, digest: Long, files: Long, bytes: Long)

  /** Records in the written tree, with an order-independent digest of
    * (partition directory, record) pairs, and the files and bytes it took. */
  def tree(out: String): Tree = {
    var records, digest, files, bytes = 0L
    scala.util.Using.resource(Files.walk(Paths.get(out))) { walk =>
      walk.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.foreach { p =>
        files += 1
        bytes += Files.size(p)
        val dir = p.getParent.getFileName.toString
        new String(Files.readAllBytes(p), UTF_8).split("\n\\^_\\^\n").filter(_.nonEmpty)
          .foreach { r =>
            records += 1
            digest += Materialize.ofBytes(s"$dir\u0000$r".getBytes(UTF_8))
          }
      }
    }
    Tree(records, digest, files, bytes)
  }
}

/** Benchmark harness JVM. Reads a run plan written by `run.py`, sets the
  * engine up several times, runs `--warmup` untimed rounds and then the
  * timed pass, and writes one JSON record per line to `--out`; `run.py`
  * turns those records into metrics.
  *
  * Plan lines are `name<TAB>rows<TAB>digest`, in rounds of `--round` lines;
  * `--ingest-pin` is `records:digest`. An empty digest means "record the
  * result, check nothing", which is how pins are made.
  */
object Main {

  final case class Pin(name: String, rows: Long, digest: String)

  private var out: PrintWriter = _

  private def emit(kv: (String, Any)*): Unit = { out.println(Json.obj(kv: _*)); out.flush() }

  private def session(cores: Int, work: String): SparkSession = {
    val s = GraftSession.builder("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Drift receipt: an aggregate and a parquet scan through stock Spark
    * operators only, median of three. */
  private def calibrate(spark: SparkSession, data: String): Double = {
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 2000000L, 1L, 4).selectExpr("sum(id % 7)", "max(id * 3)").collect()
      spark.read.parquet(s"$data/lineitem.parquet").groupBy("l_returnflag")
        .agg(sum("l_extendedprice"), avg("l_quantity")).collect()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    times(1)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.contains("list")) {
      Files.writeString(Paths.get(a("list")),
        graft.SparkEntry.queries.keys.toSeq.sorted.mkString("", "\n", "\n"), UTF_8)
      return
    }
    val data = a("data")
    val work = a("work")
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val maxSeconds = a("max-seconds").toDouble
    val trace = a("trace") == "1"
    val setups = a("setups").toInt
    val pages = a("pages").toInt
    val round = a("round").toInt
    val warmup = a("warmup").toInt * round
    val plan = Files.readAllLines(Paths.get(a("plan")), UTF_8).asScala.filter(_.nonEmpty)
      .map { l => val f = l.split("\t", -1); Pin(f(0), f(1).toLong, f(2)) }.toIndexedSeq
    out = new PrintWriter(Files.newBufferedWriter(Paths.get(a("out")), UTF_8))
    val queries = graft.SparkEntry.queries

    // ---- set-up, several times: session start plus loading every table ----
    var spark: SparkSession = null
    (1 to setups).foreach { i =>
      val t0 = System.nanoTime()
      spark = session(cores, work)
      Tables.names.foreach(Tables.load(spark, data, _))
      emit("kind" -> "setup", "s" -> (System.nanoTime() - t0) / 1e9)
      if (i < setups) spark.stop()
    }
    val sc = spark.sparkContext
    val listener = new LayerListener
    val fallbacks = new CodegenFallbacks
    if (trace) {
      sc.addSparkListener(listener)
      CodegenFallbacks.install(fallbacks)
    }
    val spans = new Spans(sc, trace)
    emit("kind" -> "calib", "phase" -> "start", "s" -> calibrate(spark, data))

    if (trace) Tables.names.foreach { t =>
      spans(0L, 0L, "tables_load")(_ => Tables.load(spark, data, t))
    }

    def run(i: Int, spans: Spans, phase: String): Unit = {
      val pin = plan(i % plan.size)
      runQuery(spark, spans, i + 1L, pin, queries(pin.name), data, phase)
    }
    // ---- untimed rounds, so that the timed pass runs compiled, warm plans ----
    val w0 = System.nanoTime()
    (0 until warmup).foreach(run(_, new Spans(sc, tag = false), "warmup"))
    emit("kind" -> "warmup", "s" -> (System.nanoTime() - w0) / 1e9)

    // ---- timed pass: whole rounds, so each query runs equally often ----
    val gc0 = Jvm.gcSeconds()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val hardStop = t0 + (maxSeconds * 1e9).toLong
    var n = 0
    while ((n % round != 0 || n == 0 || System.nanoTime() < deadline) &&
        System.nanoTime() < hardStop) {
      run(warmup + n, spans, "timed")
      n += 1
    }
    val passS = (System.nanoTime() - t0) / 1e9
    val gcS = Jvm.gcSeconds() - gc0

    // ---- traced runs also probe the ingest job, layer by layer ----
    if (trace) {
      val Array(rows, digest) = a("ingest-pin").split(":", -1)
      runIngest(spark, spans, warmup + n + 1L, pages, s"$work/ingest", Pin("ingest", rows.toLong, digest))
    }

    emit("kind" -> "calib", "phase" -> "end", "s" -> calibrate(spark, data))
    if (trace) {
      PerfbenchBus.drain(sc)
      Seq("tables_load", "construct", "plan", "execute").foreach { layer =>
          val c = listener.layer(layer)
          emit("kind" -> "layer", "layer" -> layer, "s" -> spans.seconds(layer),
            "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
            "cpu_s" -> c.cpuNs / 1e9, "shuffle_write_bytes" -> c.shuffleWriteBytes,
            "spill_bytes" -> c.spillBytes)
        }
      a.get("spans").foreach(p => writeSpans(p, spans, listener, t0))
    }
    emit("kind" -> "end", "pass_s" -> passS, "gc_s" -> gcS, "ops" -> n,
      "codegen_fallbacks" -> fallbacks.count.get(), "rss_mb" -> Jvm.peakRssMb(),
      "cores" -> cores)
    out.close()
    spark.stop()
  }

  private def runQuery(spark: SparkSession, spans: Spans, exec: Long, pin: Pin,
      fn: (SparkSession, String) => DataFrame, data: String, phase: String): Unit = {
    val mark = spans.size
    var result: Either[String, Digest] = Left("not run")
    try spans(exec, 0L, "query") { root =>
      val df = spans(exec, root, "construct")(_ => fn(spark, data))
      spans(exec, root, "plan")(_ => df.queryExecution.executedPlan)
      result = Right(spans(exec, root, "execute")(_ => Materialize(df)))
    } catch { case e: Throwable => result = Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val drained = spans(exec, 0L, "hygiene")(_ => SessionHygiene.drain(spark))
    val s = spans.secondsFrom(mark)
    val (rows, digest) = result.fold(_ => (-1L, ""), d => (d.rows, d.hex))
    val error = result.fold(identity, d =>
      if (pin.digest.isEmpty || (d.rows == pin.rows && d.hex == pin.digest)) ""
      else s"result mismatch: ${d.rows} rows ${d.hex}, pinned ${pin.rows} rows ${pin.digest}")
    emit("kind" -> "exec", "exec" -> exec, "q" -> pin.name, "phase" -> phase,
      "latency_s" -> s.getOrElse("query", 0.0),
      "construct_s" -> s.getOrElse("construct", 0.0), "plan_s" -> s.getOrElse("plan", 0.0),
      "execute_s" -> s.getOrElse("execute", 0.0), "hygiene_s" -> s("hygiene"),
      "hygiene_gc" -> drained.gcRan, "rows" -> rows, "digest" -> digest,
      "ok" -> error.isEmpty, "error" -> error)
  }

  /** One ingest job, timed by prefix: the scan alone, scan + KV + filter,
    * then the whole job into `out`. The written tree is then checked
    * against the job's own record count and the pin. */
  private def runIngest(spark: SparkSession, spans: Spans, exec: Long, pages: Int,
      out: String, pin: Pin): Unit = {
    val mark = spans.size
    var error = ""
    var written = -1L
    var fetched = 0L
    try spans(exec, 0L, "query") { root =>
      spans(exec, root, "scan")(_ => Materialize(Ingest.scan(spark, pages)))
      spans(exec, root, "kv")(_ => Materialize(Ingest.parsed(Ingest.scan(spark, pages))))
      val f0 = graft.sources.v2.PageFetcher.fetchCount.get()
      written = spans(exec, root, "sink")(_ => Ingest.write(spark, pages, out))
      fetched = graft.sources.v2.PageFetcher.fetchCount.get() - f0
    } catch { case e: Throwable => error = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    val drained = spans(exec, 0L, "hygiene")(_ => SessionHygiene.drain(spark))
    val s = spans.secondsFrom(mark)
    val t = if (error.isEmpty) Ingest.tree(out) else Ingest.Tree(-1, 0, 0, 0)
    if (error.isEmpty && t.records != written)
      error = s"sink wrote ${t.records} records, job counted $written"
    if (error.isEmpty && pin.digest.nonEmpty &&
        (t.records != pin.rows || f"${t.digest}%016x" != pin.digest))
      error = f"output mismatch: ${t.records} records ${t.digest}%016x, pinned ${pin.rows} ${pin.digest}"
    emit("kind" -> "exec", "exec" -> exec, "q" -> "ingest", "phase" -> "probe",
      "latency_s" -> s.getOrElse("sink", 0.0), "scan_s" -> s.getOrElse("scan", 0.0),
      "kv_s" -> s.getOrElse("kv", 0.0), "hygiene_s" -> s("hygiene"),
      "hygiene_gc" -> drained.gcRan, "rows" -> t.records, "digest" -> f"${t.digest}%016x",
      "pages" -> fetched, "files" -> t.files, "bytes" -> t.bytes,
      "ok" -> error.isEmpty, "error" -> error)
  }

  /** Spans as JSON lines, each with the scheduler work attributed to it. */
  private def writeSpans(path: String, spans: Spans, listener: LayerListener, origin: Long): Unit = {
    val lines = spans.all.map { s =>
      val c = listener.bySpan.getOrElse(s"${s.exec}/${s.name}", new Counts)
      Json.obj("id" -> s.id, "parent" -> s.parent, "exec" -> s.exec, "name" -> s.name,
        "start_s" -> (s.startNs - origin) / 1e9, "end_s" -> (s.endNs - origin) / 1e9,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks, "cpu_s" -> c.cpuNs / 1e9)
    }
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"), UTF_8)
  }
}
