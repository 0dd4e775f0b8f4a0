package graft.perfbench

import graft.model.ConfigValue
import graft.operators.Versioned
import graft.pipeline.{AuditLog, Ingest, IngestConfig, LogAlertSink}
import graft.sources.{LakeFormat, ParquetSource, Source}
import graft.state.{ConfigStore, ConfigStoreApi, WatermarkStore, WatermarkStoreApi}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.time.LocalDate
import scala.collection.mutable

/** ingest_incremental — the paper's own path. Config fan-out, watermark
  * resolution, volume routing, ChunkPlanner chunks, bucketed snapshot
  * commits and the watermark MERGE, over three watermarked fact tables
  * and one small dimension without a watermark (full-snapshot route).
  *
  * One backfill of 61 days of history (chunked), then one day per
  * `Ingest.run`: day 1 is light, and from day 2 on days alternate
  * between a burst over [[Limit]] (chunked route) and a light day under
  * it (full route); 10% of each day's rows are late,
  * stamped up to five hours before the previous day's end, inside
  * [[LagHours]].
  * Each day is followed by four consumer reads of the tables it landed.
  */
object IngestIncremental extends WorkloadSpec {
  val name = "ingest_incremental"
  val OpsPerDay = 5 // ingest_run, then two point reads and two aggregates
  val warmOps = OpsPerDay // day 1
  val windowOps = 2 * OpsPerDay // days 2-3: a burst day and a light day

  val Limit = 6000L
  val LagHours = 6
  val HistoryDays = 61
  // days 1-3 are the warm-up and one cycle; 13 allows six cycles
  val MaxDays = 13
  // a light day: sf0.1's 62 orders a day, 4 lineitems an order
  val LightOrders = 62
  val LightLineitems = 4 * LightOrders
  val LightEvents = 160
  // sf0.1's orders per day run from 0.83 to 1.17 of the mean (p10-p90)
  val LightJitter = 0.17
  val BurstRows = 7200 // 1.2 x Limit: the chunked route, two day chunks
  val LateShare = 10 // percent of a day's rows stamped before the day
  // sf0.1 value domains
  val Customers = 15000
  val EventKinds = Seq("signup", "click", "error", "view", "purchase")
  val Tables: Seq[String] = Seq("orders", "lineitem", "events", "nation")
  val HistoryEnd: LocalDate = LocalDate.of(2025, 6, 30)
  private val T0 = HistoryEnd.minusDays(HistoryDays)
    .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
  private val HistoryEndS = T0 + HistoryDays * 86400L

  /** Rows of one table for one day (day 0 = the history). */
  final case class Seg(day: Int, idBase: Long, fresh: Int, late: Int) {
    def rows: Int = fresh + late
  }

  /** The seeded day plan: per table, one segment per day. */
  def plan(seed: Long): Map[String, Seq[Seg]] = {
    val rng = new Rng(seed * 1000003L + 17)
    // day 1 (the warm-up) is light; from day 2 on, even days are bursts:
    // a fixed position, so every seed measures the same mix (a burst's
    // overlap restages into the next day)
    val burst = (1 to MaxDays).map(d => d % 2 == 0)
    def segs(hist: Int, light: Int, burstRows: Option[Int]) = {
      var next = 1L
      (0 to MaxDays).map { d =>
        val fresh =
          if (d == 0) hist
          else if (burst(d - 1) && burstRows.isDefined)
            rng.jitter(burstRows.get, 0.05)
          else rng.jitter(light, LightJitter)
        val late = if (d <= 1) 0 else fresh * LateShare / 100
        val s = Seg(d, next, fresh, late)
        next += s.rows
        s
      }
    }
    Map("orders" -> segs(7000, LightOrders, Some(BurstRows)),
      "lineitem" -> segs(8000, LightLineitems, Some(BurstRows)),
      "events" -> segs(7000, LightEvents, None))
  }

  def make(ctx: Ctx): Workload = new Run(ctx)

  final class Run(ctx: Ctx) extends Workload {
    import ctx._
    private val inputs = s"$root/inputs"
    private val src = s"$inputs/src"
    new java.io.File(src).mkdirs()
    private val staging = s"$inputs/staging"
    private val lake = s"$root/lake"
    private val state = s"$root/state"
    private val segs = plan(seed)
    private val rng = new Rng(seed * 7919 + 3)
    def roots: Seq[String] = Seq(lake)

    private val watermarks = new WatermarkStoreApi {
      private val inner = new WatermarkStore(spark, s"$state/watermarks")
      def lastLoad(st: String, db: String, t: String) =
        tracer.span("state.lastLoad")(inner.lastLoad(st, db, t))
      def commit(st: String, db: String, t: String, ts: java.sql.Timestamp,
          insert: Boolean): Unit =
        tracer.span(s"state.commit:${t.toLowerCase}")(
          inner.commit(st, db, t, ts, insert))
    }
    private val configs = new ConfigStoreApi {
      private val inner = new ConfigStore(spark, s"$state/config")
      def activeGroup(g: String) =
        tracer.span("state.activeGroup")(inner.activeGroup(g))
      def value(g: String, n: String) =
        tracer.span("state.value")(inner.value(g, n))
      def upsert(row: ConfigValue): Unit = inner.upsert(row)
      def allValues(): Seq[ConfigValue] = inner.allValues()
    }
    private val source = new Source {
      private val inner = new ParquetSource(src)
      def table(spark: SparkSession, t: String): DataFrame =
        tracer.span(s"source.table:${t.toLowerCase}")(inner.table(spark, t))
    }

    // per day: the staged rows per table and the audit log messages
    private val staged = mutable.Map.empty[Int, Map[String, Long]]
    private val audit = mutable.Map.empty[Int, Seq[String]]
    private var srcBytesPerRow = 0.0

    /** Rows of `segs` as a frame, every value a hash of (seed, table,
      * key): fresh rows spread over their day in equal slots (the
      * last slot ends within minutes of midnight), late rows in the
      * five hours before the day began. A lineitem belongs to an order
      * of its own day (`orders` gives each day's order keys). */
    private def rowsOf(seed: Long, table: String, ss: Seq[Seg],
        orders: Seq[Seg]): DataFrame = {
      val specRows = ss.zip(orders).map { case (s, o) =>
        Row(s.day, s.idBase, s.fresh, s.late, o.idBase, o.rows) }
      val spec = spark.createDataFrame(
        java.util.Arrays.asList(specRows: _*),
        StructType(Seq(StructField("day", IntegerType),
          StructField("id_base", LongType), StructField("fresh", IntegerType),
          StructField("late", IntegerType), StructField("o_base", LongType),
          StructField("o_rows", IntegerType))))
      val j = col("j")
      val key = col("id_base") + j
      val h = xxhash64(lit(seed), lit(table), key)
      val frac = pmod(h, lit(1000000L)).cast("double") / 1e6
      val span = when(col("day") === 0, lit(HistoryDays * 86400L))
        .otherwise(lit(86400L))
      val start = when(col("day") === 0, lit(T0))
        .otherwise(lit(HistoryEndS) + (col("day") - 1) * 86400L)
      val ts = timestamp_seconds(when(j < col("fresh"),
        start + floor((j + frac) * span / col("fresh")))
        .otherwise(start - 18000L + floor(frac * 18000L)))
      val base = spec.select(col("day"), col("id_base"), col("fresh"),
        col("o_base"), col("o_rows"),
        explode(sequence(lit(0), col("fresh") + col("late") - 1)).as("j"))
      val pick = (n: Long, shift: Int) => pmod(shiftright(h, shift), lit(n))
      (table match {
        case "orders" => base.select(col("day"), key.as("o_id"),
          (lit(1L) + pick(Customers, 8)).as("cust_id"),
          (lit(100000L) + pick(49900000, 16)).as("amount_cents"),
          element_at(array(lit("O"), lit("F"), lit("P")),
            (pick(3, 24) + 1).cast("int")).as("status"),
          ts.as("ModifiedDate"))
        case "lineitem" => base.select(col("day"), key.as("l_id"),
          (col("o_base") + pmod(shiftright(h, 8), col("o_rows").cast("long")))
            .as("o_id"),
          (lit(1L) + pick(50, 16)).cast("int").as("qty"),
          (lit(90000L) + pick(10410000, 24)).as("price_cents"),
          ts.as("ModifiedDate"))
        case "events" => base.select(col("day"), key.as("e_id"),
          element_at(array(EventKinds.map(lit): _*),
            (pick(EventKinds.size, 8) + 1).cast("int")).as("kind"),
          ts.as("LogTime"))
      }).repartition(1, col("day")).sortWithinPartitions(col("day"), col(
        table match { case "orders" => "o_id"; case "lineitem" => "l_id"
          case _ => "e_id" }))
    }

    def generate(): String = {
      val digests = segs.toSeq.map { case (t, ss) =>
        val d = Digest.write(rowsOf(seed, t, ss, segs("orders")),
          s"$staging/$t")(
          _.partitionBy("day"))
        // day 0, the history, is in the source from the start
        require(new java.io.File(s"$staging/$t/day=0")
          .renameTo(new java.io.File(s"$src/$t.parquet")),
          s"could not move the $t history into the source")
        d
      }
      val nation = Digest.write(spark.createDataFrame(java.util.Arrays.asList(
          (0 until 25).map(n => Row(n, s"nation_$n")): _*),
          StructType(Seq(StructField("n_id", IntegerType),
            StructField("n_name", StringType)))).coalesce(1),
        s"$src/nation.parquet")()
      val hist = segs.values.map(_.head.rows).sum + 25
      srcBytesPerRow = Fs.bytes(src).toDouble / hist
      configs.upsert(ConfigValue("dcx_postgresql_db_settings",
        "shop_db_name", "shopdb", is_active = true))
      configs.upsert(ConfigValue("dcx_postgresql_table_settings",
        "shop_tables", Tables.mkString(","), is_active = true))
      Digest.combine(digests :+ nation)
    }

    /** Day `d`'s rows arrive in the source: its staged files move in. */
    private def arrive(d: Int): Unit = {
      require(d <= MaxDays, s"the run outgrew the $MaxDays generated days")
      segs.keys.foreach { t =>
        val dir = new java.io.File(s"$staging/$t/day=$d")
        Option(dir.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".parquet")).zipWithIndex
          .foreach { case (f, k) =>
            require(f.renameTo(new java.io.File(
              s"$src/$t.parquet/day-$d-$k.parquet")), s"could not move $f")
          }
      }
    }

    private def runDate(d: Int) = HistoryEnd.plusDays(d)
    private def datePath(t: String, d: Int) =
      s"$lake/$t/${runDate(d).format(
        java.time.format.DateTimeFormatter.ofPattern("yyyy/MM/dd"))}"

    /** One `Ingest.run` for day `d`; returns rows staged per table. */
    private def ingest(d: Int): Map[String, Long] = {
      val cfg = IngestConfig(configPath = s"$state/config",
        watermarkPath = s"$state/watermarks", lakeBasePath = lake,
        auditPath = s"$state/audit", singleBatchDataLimit = Limit,
        lagHours = LagHours, runDate = runDate(d),
        lakeFormat = LakeFormat.Snapshot,
        bucketSpecs = Map("orders" -> ("o_id", 4), "lineitem" -> ("o_id", 4)))
      val log = new AuditLog
      val report = new Ingest(spark, source, cfg, new LogAlertSink(log), log,
        Some(watermarks), Some(configs)).run(parallelism = math.min(cpus, 4))
      audit(d) = log.snapshot.map(_.message)
      report.failed.headOption.foreach { case (t, e) =>
        throw new ContainedFailure(e.takeWhile(_ != ':'), s"$t: $e") }
      report.results.collect { case (t, Right(n)) => t -> n }.toMap
    }

    def backfill(): Unit = staged(0) = ingest(0)

    def op(i: Int): Op = {
      val d = i / OpsPerDay + 1
      i % OpsPerDay match {
        case 0 =>
          arrive(d)
          Op("ingest_run", Write, () => ingest(d),
            rows = v => v.asInstanceOf[Map[String, Long]].values.sum,
            after = v => staged(d) = v.asInstanceOf[Map[String, Long]])
        case 1 => pointRead("orders", d)
        case 2 => aggRead("lineitem", d)
        case 3 => pointRead("lineitem", d)
        case _ => aggRead("orders", d)
      }
    }

    /** A key that arrived today: exactly one copy in today's table. */
    private def pointRead(t: String, d: Int): Op = {
      val s = segs(t)(d)
      val k = s.idBase + rng.int(s.fresh)
      Op("read_point", Read, () => Versioned.read(spark, datePath(t, d))
          .where(col(keyCol(t)) === k).count(),
        after = v => checks.check(v == 1L,
          s"day $d: ${keyCol(t)} $k found $v times in today's $t"))
    }

    /** Today's table holds exactly the rows the day staged. */
    private def aggRead(t: String, d: Int): Op =
      Op("read_agg", Read, () => Versioned.read(spark, datePath(t, d))
          .agg(count(lit(1)), max(col(tsCol(t)))).head(),
        after = { v =>
          val n = v.asInstanceOf[Row].getLong(0)
          val want = staged.get(d).flatMap(_.get(t))
          checks.check(want.contains(n), s"day $d: $t holds $n rows, staged $want")
        })

    def cycleStarts(next: Int): Boolean = (next - warmOps) % windowOps == 0

    def liveRows(): Long = staged.values.flatMap(_.values).sum

    /** The day plan and each table's first rows of day 1. */
    def fingerprint(s: Long): String = {
      val p = plan(s)
      Fs.sha256(p.toSeq.sortBy(_._1).map { case (t, ss) =>
        val first = Seq(ss(1).copy(fresh = math.min(8, ss(1).fresh), late = 0))
        s"$t:${ss.mkString(",")}:" + rowsOf(s, t, first, Seq(p("orders")(1)))
          .collect().mkString(",")
      }.mkString("|").getBytes("UTF-8"))
    }

    private val keyCol = Map("orders" -> "o_id", "lineitem" -> "l_id",
      "events" -> "e_id")
    private val tsCol = Map("orders" -> "ModifiedDate",
      "lineitem" -> "ModifiedDate", "events" -> "LogTime")

    def finish(): Unit = {
      val days = staged.keys.toSeq.sorted
      def keySet(df: DataFrame, k: String) = df.select(col(k)).distinct()
        .agg(count(lit(1)), sum(col(k)), bit_xor(xxhash64(col(k)))).head()
        .toSeq
      keyCol.foreach { case (t, k) =>
        // the lake's distinct keys equal the source's (count, sum and
        // xor of hashes of the distinct keys on both sides)
        val files = days.flatMap(d =>
          Versioned.versionFiles(spark, datePath(t, d)))
        val srcDf = spark.read.parquet(s"$src/$t.parquet")
        val (lakeKeys, srcKeys) =
          (keySet(spark.read.parquet(files: _*), k), keySet(srcDf, k))
        checks.check(lakeKeys == srcKeys,
          s"$t: lake keys $lakeKeys, source keys $srcKeys")
        // each committed watermark is max(ts) - lagHours
        val maxTs = srcDf.agg(max(col(tsCol(t)))).head().get(0) match {
          case ts: java.sql.Timestamp => ts.toInstant
          case l: java.time.LocalDateTime =>
            l.toInstant(java.time.ZoneOffset.UTC)
          case other => sys.error(s"unexpected timestamp $other")
        }
        val wm = new WatermarkStore(spark, s"$state/watermarks")
          .lastLoad("offline", "sharestory", t).map(_.toInstant)
        checks.check(wm.contains(maxTs.minusSeconds(LagHours * 3600L)),
          s"$t: watermark $wm, want ${maxTs.minusSeconds(LagHours * 3600L)}")
      }
      val failedLines = spark.read.parquet(s"$state/audit")
        .where(col("message").startsWith("FAILED")).count()
      checks.check(failedLines == 0, s"audit log has $failedLines FAILED lines")
      checks.check(Versioned.read(spark, datePath("nation", days.last))
        .count() == 25, "nation snapshot lost rows")
    }

    def layer(w: Window): Map[String, Double] = {
      val windowDays = w.all.filter(_.op == "ingest_run")
        .map(_.index / OpsPerDay + 1)
      // "<table>: staged N rows ..." and "<table>: K chunks" per table
      val Staged = """(\w+): staged (\d+) rows.*""".r
      val Chunks = """(\w+): (\d+) chunks""".r
      val chunked = windowDays.flatMap { d =>
        val msgs = audit.getOrElse(d, Nil)
        val rows = msgs.collect { case Staged(t, n) => t -> n.toLong }.toMap
        msgs.collect { case Chunks(t, n) => (rows(t), n.toInt) }
      }
      val tableSpans = w.spans.groupBy(_.op).values.flatMap { ss =>
        Tables.flatMap { t =>
          for {
            s <- ss.find(_.name == s"source.table:$t")
            c <- ss.find(_.name == s"state.commit:$t")
          } yield (c.endNs - s.startNs) / 1e9
        }
      }.toSeq
      val state = w.spans.filter(_.name.startsWith("state."))
      val tracedDays = w.ofOp("ingest_run")
      val userBytes = tracedDays.map { r =>
        staged.getOrElse(r.sample.index / OpsPerDay + 1, Map.empty).values.sum
      }.sum * srcBytesPerRow
      val outBytes = tracedDays.flatMap(_.jobs).map(_.outputBytes).sum
      def site(j: JobRec) = j.callSite.takeWhile(_ != '\n')
      Map(
        "pipeline.table_s" ->
          (if (tableSpans.isEmpty) 0.0 else Stats.median(tableSpans)),
        "pipeline.chunked_tables" -> chunked.size.toDouble,
        "plan.chunks" -> chunked.map(_._2).sum.toDouble,
        "plan.chunk_fill" -> (if (chunked.isEmpty) 0.0
          else chunked.map { case (r, n) => r.toDouble / n / Limit }.sum /
            chunked.size),
        "plan.jobs" -> w.jobs.count(_.callSite.contains("ChunkPlanner.scala"))
          .toDouble,
        "state.calls" -> state.size.toDouble,
        "state.s" -> state.map(_.seconds).sum,
        "sources.write_jobs" -> w.jobs.count(j => j.outputRecords > 0 &&
          (site(j).contains("Versioned.scala") ||
            site(j).contains("Sources.scala"))).toDouble,
        "sources.files_written" -> (w.end.dataFiles - w.start.dataFiles)
          .toDouble,
        "versioned.write_amp" ->
          (if (userBytes > 0) outBytes / userBytes else 0.0))
    }
  }
}
