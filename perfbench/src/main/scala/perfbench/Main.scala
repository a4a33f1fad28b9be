package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{Readers, Writers}

/** One timed operation: a query, or one call into a pipeline or table. */
final case class Op(name: String, kind: String, var status: String,
                    seconds: Double, var errorClass: String = "",
                    var message: String = "")

/** The benchmark's JVM side. `run.py` writes a JSON spec (workload, query
  * sample, input paths, budgets, trace flag), starts this main with the
  * spec path, and reads back `result.json` from the run directory.
  *
  * Every operation runs under its own Spark job group with a watchdog
  * that cancels the group once the operation overruns its budget, so a
  * hung operation costs one budget and is recorded as `timeout`.
  */
object Main {

  private val mapper = new ObjectMapper()
  private var spec: JsonNode = _
  private lazy val runDir = spec.get("run_dir").asText
  private lazy val cores = spec.get("cores").asInt
  private lazy val watchdog: ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
    }
  private val ops = mutable.ArrayBuffer[Op]()
  private val extraResult = mutable.LinkedHashMap[String, String]()
  private var opSeq = 0

  private def strs(n: JsonNode): Seq[String] =
    if (n == null) Nil else n.elements().asScala.map(_.asText).toSeq

  private def now(): Long = System.nanoTime()

  /** Wall time of one harness phase, kept in the result for diagnosis. */
  private val phases = mutable.LinkedHashMap[String, Double]()
  def phase[T](name: String)(body: => T): T = {
    val t0 = now()
    try body finally phases(name) = (now() - t0) / 1e9
  }

  def session(extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config(extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Untimed machinery warmup, with shapes of its own so no
    * measured query is pre-compiled. Each exemplar exercises one family of
    * the machinery the queries use: decimal sums, the native top-k exec,
    * string predicates, window frames, explode + md5 hashing, array-math
    * kNN, HLL registers, shuffle joins, ntile. On the query tables (lineitem
    * sampled to ~60k rows) when the workload has them; otherwise on a small
    * generated frame written to `scratch`.
    */
  def warmup(spark: SparkSession, scratch: String, tables: Option[String]): Unit = {
    import graft.ops.Relational.dsum
    val runs: Seq[() => DataFrame] = tables match {
      case Some(dir) =>
        def t(n: String) = graft.Tables.load(spark, dir, n)
        val li0 = t("lineitem")
        val li = li0.sample(math.min(1.0, 60000.0 / li0.count()), 7)
        val docs = t("documents")
        val emb = t("embeddings")
        Seq(
          () => li.groupBy("l_linestatus").agg(dsum(col("l_quantity") * col("l_tax"), 4).as("s"),
            avg("l_discount").as("a"), count(lit(1)).as("n")),
          () => graft.plans.NativeTopK.topKPerGroup(
            li.select((col("l_partkey") % 50).as("g"), col("l_extendedprice"), col("l_orderkey")),
            Seq(col("g")), Seq(col("l_extendedprice").desc, col("l_orderkey")), 3),
          () => docs.where(lower(col("text")).contains("merge"))
            .select(col("doc_id"), length(col("text")).as("len"), upper(col("source")).as("u")),
          () => li.withColumn("rt", sum("l_tax").over(
            org.apache.spark.sql.expressions.Window.partitionBy("l_returnflag")
              .orderBy("l_orderkey", "l_linenumber")
              .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))),
          () => docs.select(explode(split(col("text"), " ")).as("tok"))
            .select((graft.functions.Hashing.hash48(col("tok")) % 53).as("b")).groupBy("b").count(),
          () => graft.similarity.Similarity.knnBruteForce(
            emb.where(col("vec_id") < 2).limit(2), emb, k = 3),
          () => graft.sketch.Hll.registers(li, col("l_partkey"), 6),
          () => li.join(t("orders"), col("l_orderkey") === col("o_orderkey"))
            .groupBy("o_orderpriority").agg(count(lit(1)).as("n")),
          () => li.select(col("l_orderkey"), ntile(5).over(
            org.apache.spark.sql.expressions.Window.partitionBy("l_returnflag")
              .orderBy(col("l_tax"), col("l_orderkey"))).as("bin")))
      case None =>
        val base = spark.range(0, 20000, 1, cores)
          .select(col("id"), (col("id") % 97).as("k"),
            (col("id") * 7 % 1013).cast("double").as("v"),
            concat_ws(" ", lit("w"), (col("id") % 13).cast("string"), lit("x")).as("s"))
        Writers.parquetOverwrite(base, scratch)
        val f = Readers.parquet(spark, scratch)
        Seq(
          () => f.groupBy("k").agg(dsum(col("v"), 2).as("sv"), count(lit(1)).as("n")),
          () => f.join(f.select(col("id").as("j"), col("v").as("w")), col("id") === col("j"))
            .groupBy("k").agg(max("w")),
          () => f.withColumn("r", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy(col("v").desc, col("id")))),
          () => f.select(explode(split(col("s"), " ")).as("tok")).groupBy("tok").count())
    }
    runs.foreach(r => Writers.noop(r()))
  }

  /** Run `body` as one timed operation with a cancelling watchdog. */
  def op(spark: SparkSession, name: String, kind: String, budgetS: Double,
         record: Boolean = true)(body: => Unit): Op = {
    val sc = spark.sparkContext
    opSeq += 1
    val group = s"perfbench-$opSeq"
    val done = new AtomicBoolean(false)
    val overran = new AtomicBoolean(false)
    sc.setJobGroup(group, name, interruptOnCancel = true)
    val dog = watchdog.scheduleAtFixedRate(() => if (!done.get) {
      overran.set(true); sc.cancelJobGroup(group)
    }, (budgetS * 1000).toLong, 200, TimeUnit.MILLISECONDS)
    val t0 = now()
    var status = "ok"
    var errClass = ""
    var msg = ""
    try Trace.span(kind)(body)
    catch {
      case e: Throwable =>
        status = if (overran.get) "timeout" else "error"
        errClass = e.getClass.getName
        msg = Option(e.getMessage).getOrElse("").linesIterator
          .find(_.trim.nonEmpty).getOrElse("").take(300)
    } finally {
      done.set(true)
      dog.cancel(false)
      sc.clearJobGroup()
    }
    val sec = (now() - t0) / 1e9
    if (status == "ok" && sec > budgetS) {
      status = "timeout"; msg = f"overran budget of $budgetS%.0f s"
    }
    System.err.println(f"[perfbench] $name%s $status%s $sec%.3f s $msg%s")
    val o = Op(name, kind, status, sec, errClass, msg)
    if (record) ops += o
    o
  }

  // ---- query workloads -----------------------------------------------------

  private lazy val registry = graft.SparkEntry.queries

  /** Seconds from JVM start to now: the run's set-up time. */
  def sinceJvmStart(): Double = (System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def queryWorkload(): (Double, Double) = {
    val dir = spec.get("data_dir").asText
    val sample = strs(spec.get("queries"))
    val staged = strs(spec.get("stage_queries")).toSet
    val budget = spec.get("op_budget_s").asDouble
    val outRoot = s"$runDir/out"

    // set-up: session, warmup, and every io.Staged base the sample needs
    // (constructing a staged query builds its bases; nothing is executed)
    val spark = phase("session")(session())
    phase("warmup")(warmup(spark, s"$runDir/warm", Some(dir)))
    phase("registry")(registry)
    val recordStaged = Option(spec.get("record_staged")).exists(_.asBoolean)
    phase("stage")(sample.filter(q => staged(q) && !recordStaged).foreach { q =>
      val _ = op(spark, s"stage:$q", "setup", budget, record = false) {
        val _ = registry(q)(spark, dir)
      }
    })
    spark.catalog.clearCache()
    val setup = sinceJvmStart()
    attachTrace(spark)

    // calibration: a private stage root per query shows which queries
    // build io.Staged bases; known staged queries are staged untimed first,
    // as in a benchmark run's set-up
    val stagedBy = mutable.LinkedHashMap[String, Int]()
    val stageSeconds = mutable.LinkedHashMap[String, Double]()
    val w0 = now()
    // Only construction and the noop sink are timed. Right after, the
    // same DataFrame is executed again into parquet for the correctness
    // check; that capture and the cache reset between queries are not part
    // of wall_s.
    var untimedNs = 0L
    Trace.span("bench.timed") {
      sample.foreach { q =>
        val stageRoot = new File(s"$runDir/stage/$q")
        if (recordStaged) {
          val _ = stageRoot.mkdirs()
          System.setProperty("graft.stage.dir", stageRoot.getPath)
          if (staged(q)) {
            stageSeconds(q) = op(spark, s"stage:$q", "setup", budget, record = false) {
              val _ = registry(q)(spark, dir)
            }.seconds
          }
        }
        var result: DataFrame = null
        val o = op(spark, q, "bench.query", budget) {
          val df = Trace.span("queries.construct")(registry(q)(spark, dir))
          Trace.span("io.noop")(Writers.noop(df))
          result = df
        }
        val u0 = now()
        if (o.status == "ok") {
          val c = op(spark, s"check:$q", "check", budget, record = false) {
            Writers.parquetOverwrite(result, s"$outRoot/$q")
          }
          if (c.status != "ok") {
            o.status = "wrong"; o.errorClass = c.errorClass
            o.message = s"output capture failed: ${c.message}"
          }
        }
        spark.catalog.clearCache()
        if (recordStaged)
          stagedBy(q) = Option(stageRoot.listFiles()).map(_.length).getOrElse(0)
        untimedNs += now() - u0
      }
    }
    val wall = (now() - w0 - untimedNs) / 1e9
    if (recordStaged) {
      extraResult("staged") =
        stagedBy.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
      extraResult("stage_seconds") =
        stageSeconds.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString("{", ",", "}")
    }
    phase("stop")(spark.stop())
    (wall, setup)
  }

  def attachTrace(spark: SparkSession): Unit =
    if (spec.get("trace").asBoolean) {
      Trace.enabled = true
      Trace.attach(spark.sparkContext)
      spark.sparkContext.addSparkListener(new TaskListener(Trace.counters))
      spark.listenerManager.register(new PlanListener(Trace.counters))
    }

  // ---- output ----------------------------------------------------------------

  private def q(s: String): String = mapper.writeValueAsString(s)
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  private def writeResult(wall: Double, setup: Double,
                          extra: Map[String, String]): Unit = {
    val opsJson = ops.map { o =>
      s"""{"name":${q(o.name)},"kind":${q(o.kind)},"status":${q(o.status)},""" +
        s""""seconds":${num(o.seconds)},"error_class":${q(o.errorClass)},""" +
        s""""message":${q(o.message)}}"""
    }.mkString("[", ",", "]")
    val layers = if (Trace.enabled) Layers.metrics(wall, cores)
                 else Map.empty[String, Double]
    val layersJson = layers.map { case (k, v) => s"${q(k)}:${num(v)}" }
      .mkString("{", ",", "}")
    val spansJson = Trace.all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${q(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"run_id":${q(Trace.runId)},""" +
        s.delta.filter(_._2 != 0).map { case (k, v) => s"${q(k)}:$v" }
          .mkString(""""counters":{""", ",", "}}")
    }.mkString("[", ",\n", "]")
    val jvmToMain = mainStartMs - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val phasesJson = (("jvm_to_main" -> jvmToMain / 1000.0) +: phases.toSeq)
      .map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString("{", ",", "}")
    val extraJson = s""","phases":$phasesJson""" + extra.map { case (k, v) => s""",${q(k)}:$v""" }.mkString
    val body =
      s"""{"wall_s":${num(wall)},"setup_s":${num(setup)},""" +
        s""""master":${q(s"local[$cores]")},"cores":$cores,"ops":$opsJson,""" +
        s""""layers":$layersJson$extraJson}"""
    Files.write(Paths.get(runDir, "result.json"), body.getBytes(StandardCharsets.UTF_8))
    if (Trace.enabled)
      Files.write(Paths.get(runDir, "spans.json"), spansJson.getBytes(StandardCharsets.UTF_8))
  }

  private var mainStartMs = 0L

  def main(args: Array[String]): Unit = {
    mainStartMs = System.currentTimeMillis()
    spec = mapper.readTree(new File(args(0)))
    val workload = spec.get("workload").asText
    val (wall, setup, extra) = workload match {
      case "medallion" =>
        val r = Medallion.run(spec)
        (r._1, r._2, r._3)
      case _ =>
        val (w, s) = queryWorkload()
        (w, s, extraResult.toMap)
    }
    writeResult(wall, setup, extra)
    watchdog.shutdownNow()
    System.exit(0)
  }

  def recordedOps: mutable.ArrayBuffer[Op] = ops
}
