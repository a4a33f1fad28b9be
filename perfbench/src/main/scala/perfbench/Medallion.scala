package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.clean.Cleaning
import graft.io.{Readers, Writers}
import graft.pipelines.Pipelines
import graft.versioned.VersionedTable

/** The medallion workload: raw CSV/JSON-lines → curated → serving →
  * denormalized, then a versioned lakehouse table driven through appends
  * (one evolving the schema), update, upsert, delete, time travel for
  * every version, a pruned scan, the fast count, compaction and vacuum.
  *
  * Every call into the engine is one timed operation. Outputs are checked
  * afterwards, untimed, against the counts the input generator injected.
  */
object Medallion {
  import Main.op

  private val idCols = Seq("Country_Name", "Country_Code", "Indicator_Name",
    "Indicator_Code")
  private val co2Cols = Seq("ID", "MS", "Mh", "year", "Enedc_g/km", "ec_cm3")

  def run(spec: JsonNode): (Double, Double, Map[String, String]) = {
    val runDir = spec.get("run_dir").asText
    val budget = spec.get("op_budget_s").asDouble
    val in = spec.get("medallion")
    val exp = spec.get("expect")
    val years = in.get("years").elements().asScala.map(_.asInt.toString).toSeq
    val batches = in.get("co2").elements().asScala.toSeq
    val lake = s"$runDir/lake"

    // Catalyst's constraint propagation grows exponentially with the
    // aliased columns of the 65-column WDI frame: Pipelines.curate with its
    // validity filters exhausts a 3 GB driver heap from about 20 year
    // columns on. Off for this workload until the engine handles it.
    val spark = Main.phase("session")(Main.session(Map(
      "spark.sql.constraintPropagation.enabled" -> "false")))
    Main.phase("warmup")(Main.warmup(spark, s"$runDir/warm", None))
    val setup = Main.sinceJvmStart()
    val s = spark
    Main.attachTrace(s)

    def repair(df: DataFrame): DataFrame = Cleaning.normalizeColumnNames(df)
    def readBatch(b: JsonNode): DataFrame =
      Trace.span("io.read")(Readers.jsonLines(s, b.get("path").asText))

    var wdiCounts = Seq.empty[(String, Long)]
    var table: VersionedTable = null
    var filesRead = 0
    var liveFiles = 0
    var countFast = -1L
    val w0 = System.nanoTime()
    Trace.span("bench.timed") {
      var raw: DataFrame = null
      var ctryRaw: DataFrame = null
      op(s, "read wdi", "io.read", budget) {
        raw = Readers.csv(s, in.get("wdi").asText)
      }
      op(s, "read country", "io.read", budget) {
        ctryRaw = Readers.csv(s, in.get("country").asText)
      }
      op(s, "curate wdi", "clean.curate", budget) {
        val (cur, counts) = Pipelines.curate(raw, Pipelines.CurateConfig(
          validityFilters = Seq(
            Cleaning.codeLengthIs(col("Country_Code"), 3),
            Cleaning.noSpaces(col("Indicator_Code")))))
        wdiCounts = counts
        Trace.span("io.write")(
          Writers.parquetPartitioned(cur, s"$lake/curated/wdi", Seq("Country_Code")))
      }
      op(s, "curate country", "clean.curate", budget) {
        val (cur, _) = Pipelines.curate(ctryRaw, Pipelines.CurateConfig(
          validityFilters = Seq(col("Region").isNotNull)))
        Trace.span("io.write")(Writers.parquetSingleFile(cur, s"$lake/curated/country"))
      }
      op(s, "serve", "pipelines.serve", budget) {
        val cur = Trace.span("io.read")(Readers.parquet(s, s"$lake/curated/wdi"))
        val top = Pipelines.serve(cur, Pipelines.ServeConfig(
          idCols = idCols, valueCols = years,
          groupCols = Seq("Indicator_Code", "year"),
          topKPartition = Seq("year"), topKOrder = "avg_Indicator_Value",
          k = 100))
        Trace.span("io.write")(Writers.parquetPartitioned(top, s"$lake/serving/top", Seq("year")))
      }
      op(s, "denormalize", "pipelines.denormalize", budget) {
        val cur = Trace.span("io.read")(Readers.parquet(s, s"$lake/curated/wdi"))
        val ctry = Trace.span("io.read")(Readers.parquet(s, s"$lake/curated/country"))
        val long = Pipelines.serve(cur, Pipelines.ServeConfig(
          idCols = Seq("Country_Code", "Indicator_Code"), valueCols = years))
          .withColumn("year", col("year").cast("int"))
        val dims = ctry.select(col("Country_Code").as("c_code"), col("Region"),
          col("Income_Group"))
        val out = Pipelines.denormalize(long, Pipelines.DenormConfig(
          dims = Seq((dims, col("Country_Code") === col("c_code"))),
          periodCol = "year", keyCols = Seq("Region", "Indicator_Code"),
          valueExpr = col("Indicator_Value").cast("double"),
          periods = 2000 to 2020))
        Trace.span("io.write")(Writers.parquetOverwrite(out, s"$lake/serving/denorm"))
      }
      op(s, s"create v0", "versioned.create", budget) {
        table = VersionedTable.create(s, s"$lake/co2", repair(readBatch(batches.head)))
      }
      val last = batches.size - 1
      batches.zipWithIndex.tail.foreach { case (b, i) =>
        op(s, s"append v$i", "versioned.append", budget) {
          // the last batch adds a column: schema evolution
          Pipelines.lakehouseAppend(table, readBatch(b), repair, mergeSchema = i == last)
        }
        // a reader of the same table between writes
        op(s, s"read v$i", "versioned.asof", budget) {
          Writers.noop(table.toDF.groupBy("MS").agg(count(lit(1)).as("n")))
        }
      }
      op(s, "update", "versioned.update", budget) {
        table.update(col("Mh") === "FERRARI", Map("ec_cm3" -> (col("ec_cm3") + 10)))
      }
      op(s, "upsert", "versioned.upsert", budget) {
        val cur = table.toDF.where(col("ID") < 50)
          .withColumn("ec_cm3", col("ec_cm3") + 1)
        table.upsert(cur.unionByName(cur.withColumn("ID", col("ID") + 10000000L)), Seq("ID"))
      }
      op(s, "delete", "versioned.delete", budget) {
        table.delete(col("MS") === "PL")
      }
      // time travel to every version, as one read of the table's history
      op(s, "asof all", "bench.asof_all", budget) {
        (0L to table.version).foreach { v =>
          Trace.span("versioned.asof")(Writers.noop(table.asOf(v)))
        }
      }
      op(s, "scan pruned", "versioned.scan_pruned", budget) {
        val b = batches(1)
        val lo = b.get("first_id").asLong
        val df = table.scanPruned("ID", lo, lo + b.get("rows").asLong - 1)
        Writers.noop(df)
        filesRead = df.inputFiles.length
        liveFiles = table.toDF.inputFiles.length
      }
      op(s, "count fast", "versioned.count_fast", budget) {
        countFast = table.countFast
      }
      op(s, "compact", "versioned.compact", budget) {
        table.compact(4, Seq("ID"))
      }
      op(s, "vacuum", "versioned.vacuum", budget) {
        val _ = table.vacuum(0L)
      }
    }
    val wall = (System.nanoTime() - w0) / 1e9

    // ---- untimed checks ------------------------------------------------------
    val ops = Main.recordedOps
    def fail(name: String, msg: String): Unit =
      ops.filter(o => o.name == name && o.status == "ok").foreach { o =>
        o.status = "wrong"; o.message = msg
      }
    def check(name: String)(cond: => Option[String]): Unit =
      try cond.foreach(fail(name, _))
      catch { case e: Throwable => fail(name, s"check failed: ${e.getClass.getSimpleName}") }

    val wantCurate = exp.get("curate_counts").elements().asScala.map(_.asLong).toSeq
    check("curate wdi") {
      val got = wdiCounts.map(_._2)
      if (got != wantCurate) Some(s"stage counts $got, want $wantCurate") else None
    }
    check("curate country") {
      val n = s.read.parquet(s"$lake/curated/country").count()
      val want = exp.get("country_rows").asLong
      if (n != want) Some(s"curated country rows $n, want $want") else None
    }
    check("serve") {
      val n = s.read.parquet(s"$lake/serving/top").count()
      val want = exp.get("serve_rows").asLong
      if (n != want) Some(s"serving rows $n, want $want") else None
    }
    check("denormalize") {
      val n = s.read.parquet(s"$lake/serving/denorm").count()
      val want = exp.get("denorm_rows").asLong
      if (n != want) Some(s"denormalized rows $n, want $want") else None
    }
    val wantRows = exp.get("version_rows").elements().asScala.map(_.asLong).toSeq
    if (table != null) {
      // appended versions must hold exactly the repaired batches so far:
      // compared as (row count, sum of row hashes), one job per frame
      def digest(df: DataFrame): (Long, BigDecimal) = {
        val cols = co2Cols.map(c => col(s"`$c`"))
        val r = df.select(cols: _*).agg(count(lit(1)),
          sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
        (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
      }
      val batchDigests = batches.map(b =>
        digest(repair(Readers.jsonLines(s, b.get("path").asText))))
      val cumulative = batchDigests.scanLeft((0L, BigDecimal(0))) {
        case ((n, h), (bn, bh)) => (n + bn, h + bh) }.tail
      wantRows.zipWithIndex.foreach { case (want, v) =>
        check("asof all") {
          val (n, h) = digest(table.asOf(v.toLong))
          if (n != want) Some(s"version $v has $n rows, want $want")
          else if (v < cumulative.size && h != cumulative(v)._2)
            Some(s"version $v differs from the batches appended so far")
          else None
        }
      }
      check("count fast") {
        val n = table.toDF.count()
        if (countFast != n || n != wantRows.last)
          Some(s"countFast $countFast, toDF.count $n, want ${wantRows.last}")
        else None
      }
      check("scan pruned") {
        val b = batches(1)
        val lo = b.get("first_id").asLong
        val n = table.scanPruned("ID", lo, lo + b.get("rows").asLong - 1).count()
        val want = exp.get("scan_rows").asLong
        if (n != want) Some(s"pruned scan rows $n, want $want") else None
      }
      check("compact") {
        val n = table.toDF.count()
        if (n != wantRows.last) Some(s"compacted table rows $n, want ${wantRows.last}")
        else None
      }
      val logFiles = Option(new java.io.File(s"$lake/co2/_graft_log").listFiles())
        .getOrElse(Array.empty).count(_.getName.endsWith(".json"))
      Trace.gauge("versioned.manifests", logFiles.toDouble)
      Trace.gauge("versioned.live_files", liveFiles.toDouble)
      Trace.gauge("versioned.files_read_ratio",
        if (liveFiles > 0) filesRead.toDouble / liveFiles else 0.0)
    }
    if (wdiCounts.nonEmpty) {
      val m = wdiCounts.toMap
      Trace.gauge("clean.rows_dropped", (wdiCounts.head._2 - wdiCounts.last._2).toDouble)
      Trace.gauge("clean.dropped_all_null", (m("normalize_names") - m("drop_all_null")).toDouble)
      Trace.gauge("clean.dropped_dedup", (m("drop_all_null") - m("dedup")).toDouble)
      Trace.gauge("clean.dropped_validity", (m("dedup") - wdiCounts.last._2).toDouble)
    }
    s.stop()
    val countsJson = wdiCounts.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    (wall, setup, Map("curate_counts" -> countsJson,
      "files_read" -> filesRead.toString, "live_files" -> liveFiles.toString))
  }
}
