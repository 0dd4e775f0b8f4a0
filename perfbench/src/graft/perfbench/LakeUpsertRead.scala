package graft.perfbench

import graft.operators.{DataMerge, SegmentStats, Versioned}
import graft.sources.{GraftCatalog, ScanProbe}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** lake_upsert_read — reads beside writes on one commit log. One
  * snapshot catalog table seeded from [[Days]] days of orders in
  * [[SeedCommits]] appends, and a partitioned plain-parquet sibling
  * holding the same rows. A seeded mix of writes (SQL MERGE INTO, the
  * same batch through DataMerge.mergeIntoParquet, DV delete, DV update,
  * compactSmall every [[CompactEvery]] snapshot commits) and reads
  * (point lookups, date-range scans, a full aggregate, time travel to a
  * uniformly random past version, history) runs against them in the
  * fixed [[Cycle]], keys Zipf-skewed toward recent orders. The benchmark keeps a model of
  * both tables and of the snapshot table at every version.
  */
object LakeUpsertRead extends WorkloadSpec {
  val name = "lake_upsert_read"
  // the first 12 ops hold every op type once or more; any 30
  // consecutive ops hold one cycle's mix
  val warmOps = 12
  val windowOps = 30

  // sf0.1's orders: 62 a day, 15,000 customers, o_totalprice uniform
  // over 1,000 to 500,000, status F/O/P in equal shares
  val HistoryRows = 10000
  val Days = 161 // HistoryRows at sf0.1's 62 orders a day
  val Customers = 15000
  val MinCents = 100000L
  val MaxCents = 50000000L
  val SeedCommits = 8
  val MergeRows = 300
  val CompactEvery = 3
  private val Day0 = java.time.LocalDate.of(2024, 7, 1).toEpochDay.toInt

  /** One cycle of the schedule, in a fixed order so that every seed
    * sees the same mix and the same reads land on deletion-vector
    * overlays (between the DV writes and the compaction that folds
    * them); the seed picks keys, values and versions. Point lookups
    * are the majority of reads, enough that the median read is one of
    * them. merge_parquet directly follows each merge_sql with the same
    * batch, and compact follows every [[CompactEvery]] snapshot
    * commits, so a cycle is 30 ops and the schedule repeats every 30
    * ops. */
  private val Cycle: Seq[String] = Seq("merge_sql", "read_point",
    "dv_delete", "read_point", "read_range", "read_travel", "read_point",
    "dv_update", "read_agg", "history", "read_point", "read_point",
    "read_travel") ++ Seq.fill(15)("read_point")

  /** The stream of seeded choices: history rows, batches, keys. */
  private def rngFor(seed: Long) = new Rng(seed * 6151 + 11)

  /** History row `j` (1-based): o_id grows with o_date, so recent
    * orders have the highest keys. */
  private def historyRow(r: Rng, j: Int): (Info, Rec) =
    (Info(r.long(1, Customers + 1), Day0 + ((j - 1L) * Days / HistoryRows).toInt),
      newRec(r))

  private def newRec(r: Rng): Rec =
    Rec(r.long(MinCents, MaxCents + 1), Seq("O", "F", "P")(r.int(3)))

  def make(ctx: Ctx): Workload = new Run(ctx)

  /** Per-key immutable facts; amount and status are the mutable part. */
  final case class Info(cust: Long, date: Int)
  final case class Rec(amount: Long, status: String)
  /** count, exact-cents sum, xor of xxhash64(o_id) — what every
    * aggregate read is checked against. */
  final case class TableDigest(n: Long, cents: Long, keys: Long)

  final class Run(ctx: Ctx) extends Workload {
    import ctx._
    private val cat = "pb" + Integer.toHexString(root.hashCode)
    private val catRoot = s"$root/catalog"
    private val table = s"$catRoot/lake/orders"
    private val sqlTable = s"$cat.lake.orders"
    private val sibling = s"$root/parquet/orders"
    private val inputs = s"$root/inputs/orders.parquet"
    def roots: Seq[String] = Seq(catRoot, sibling)

    private val rng = rngFor(seed)
    private val info = mutable.LongMap.empty[Info]
    private val snap = mutable.LongMap.empty[Rec]
    private val parq = mutable.LongMap.empty[Rec]
    private val atVersion = mutable.Map.empty[Long, TableDigest]
    private var maxKey = 0L
    private var snapCommits = 0
    private var pendingParquet: Option[Seq[(Long, Rec)]] = None
    private val queue = mutable.Queue.empty[String]
    private val scanRatios = mutable.Map.empty[Int, Double]
    private var userBytesPerRow = 0.0

    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", catRoot)

    private val schema = StructType(Seq(
      StructField("o_id", LongType, nullable = false),
      StructField("cust_id", LongType), StructField("amount_cents", LongType),
      StructField("status", StringType), StructField("o_date", DateType),
      StructField("part", IntegerType)))

    private def part(date: Int): Int = {
      val d = java.time.LocalDate.ofEpochDay(date)
      d.getYear * 100 + d.getMonthValue
    }

    private def frame(rows: Seq[(Long, Rec)]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows.map { case (k, r) =>
        val i = info(k)
        Row(k, i.cust, r.amount, r.status,
          java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.date)),
          part(i.date))
      }: _*), schema)

    private def digest(m: collection.Map[Long, Rec]): TableDigest = {
      var n, cents, keys = 0L
      m.foreach { case (k, r) =>
        n += 1; cents += r.amount; keys ^= XXH64.hashLong(k, 42L) }
      TableDigest(n, cents, keys)
    }

    private def digestOf(df: DataFrame): TableDigest = {
      val r = df.agg(count(lit(1)), coalesce(sum("amount_cents"), lit(0L)),
        coalesce(bit_xor(xxhash64(col("o_id"))), lit(0L))).head()
      TableDigest(r.getLong(0), r.getLong(1), r.getLong(2))
    }

    private def newRec(): Rec = LakeUpsertRead.newRec(rng)

    /** A recent-skewed existing key of `m`. */
    private def recentKey(m: collection.Map[Long, Rec]): Long = {
      var k = maxKey - rng.zipf(maxKey.toInt)
      while (!m.contains(k)) k = maxKey - rng.zipf(maxKey.toInt)
      k
    }

    def generate(): String = {
      (1 to HistoryRows).foreach { j =>
        val (i, r) = historyRow(rng, j)
        info(j.toLong) = i
        snap(j.toLong) = r
        parq(j.toLong) = r
      }
      maxKey = HistoryRows
      val d = Digest.write(frame(snap.toSeq.sortBy(_._1)).coalesce(1),
        inputs)()
      userBytesPerRow = Fs.bytes(inputs).toDouble / HistoryRows
      Digest.combine(Seq(d))
    }

    def backfill(): Unit = {
      val hist = spark.read.parquet(inputs)
      val step = HistoryRows / SeedCommits
      (0 until SeedCommits).foreach { c =>
        val slice = hist.where(col("o_id") > c * step &&
          col("o_id") <= (if (c == SeedCommits - 1) HistoryRows else (c + 1) * step))
        Versioned.commit(slice, table, if (c == 0) "create" else "append")
      }
      hist.write.partitionBy("part").parquet(sibling)
      Versioned.versions(spark, table).foreach { v =>
        val upTo = if (v == SeedCommits - 1) HistoryRows else (v + 1) * step
        atVersion(v) = digest(snap.filter(_._1 <= upTo))
      }
    }

    private def latest(): Long = Versioned.versions(spark, table).last

    private def committed(): Unit = {
      atVersion(latest()) = digest(snap)
      snapCommits += 1
    }

    private def keyStatsTouch(lo: Long, hi: Long)
        : SegmentStats.FileStats => Boolean = fs =>
      fs.cols.get("o_id").forall { c =>
        val min = c.min.flatMap(_.toLongOption).getOrElse(Long.MinValue)
        val max = c.max.flatMap(_.toLongOption).getOrElse(Long.MaxValue)
        max >= lo && min <= hi
      }

    def op(i: Int): Op = {
      if (pendingParquet.isDefined) return mergeParquet()
      if (snapCommits >= CompactEvery) {
        snapCommits = 0
        return Op("compact", Write, () => Versioned.compactSmall(spark, table,
          Layout.SmallFileBytes), after = v =>
          if (v.asInstanceOf[Option[_]].isDefined) {
            atVersion(latest()) = digest(snap)
          })
      }
      if (queue.isEmpty) queue ++= Cycle
      queue.dequeue() match {
        case "merge_sql" => mergeSql()
        case "dv_delete" => dvDelete()
        case "dv_update" => dvUpdate()
        case "read_point" => readPoint(i)
        case "read_range" => readRange(i)
        case "read_agg" => Op("read_agg", Read,
          () => digestOf(spark.table(sqlTable)),
          after = v => checks.check(v == digest(snap),
            s"read_agg: $v, model ${digest(snap)}"))
        case "read_travel" =>
          val v = rng.long(0, latest())
          Op("read_travel", Read,
            () => digestOf(Versioned.read(spark, table, Some(v))),
            after = got => checks.check(atVersion.get(v).contains(got),
              s"time travel to v$v: $got, model ${atVersion.get(v)}"))
        case "history" => Op("history", Read,
          () => Versioned.history(spark, table).size,
          after = n => checks.check(n == atVersion.size,
            s"history lists $n versions, ${atVersion.size} committed"))
      }
    }

    /** A batch of [[MergeRows]] distinct keys: 80% recent-skewed updates
      * of keys both tables hold, 20% new orders dated in the last month. */
    private def batch(): Seq[(Long, Rec)] = {
      val rows = mutable.LinkedHashMap.empty[Long, Rec]
      while (rows.size < MergeRows * 4 / 5) {
        val k = recentKey(snap)
        if (parq.contains(k)) rows(k) = newRec()
      }
      while (rows.size < MergeRows) {
        maxKey += 1
        info(maxKey) = Info(rng.long(1, Customers + 1),
          Day0 + Days - 1 - rng.int(30))
        rows(maxKey) = newRec()
      }
      rows.toSeq
    }

    private def mergeSql(): Op = {
      val rows = batch()
      val view = s"${cat}_batch"
      Op("merge_sql", Write, () => {
        frame(rows).createOrReplaceTempView(view)
        spark.sql(s"""MERGE INTO $sqlTable AS T USING $view AS S
          ON T.o_id = S.o_id
          WHEN MATCHED THEN UPDATE SET amount_cents = S.amount_cents,
            status = S.status
          WHEN NOT MATCHED THEN INSERT *""")
        rows.size.toLong
      }, rows = _.asInstanceOf[Long], after = { _ =>
        rows.foreach { case (k, r) => snap(k) = r }
        committed()
        pendingParquet = Some(rows)
      })
    }

    private def mergeParquet(): Op = {
      val rows = pendingParquet.get
      pendingParquet = None
      Op("merge_parquet", Write, () => {
        DataMerge.mergeIntoParquet(spark, sibling, frame(rows), Seq("o_id"),
          Seq("part"))
        rows.size.toLong
      }, rows = _.asInstanceOf[Long],
        after = _ => rows.foreach { case (k, r) => parq(k) = r })
    }

    private def someKeys(n: Int): Seq[Long] =
      Seq.fill(n)(recentKey(snap)).distinct

    private def dvDelete(): Op = {
      val ks = someKeys(10)
      Op("dv_delete", Write, () => Versioned.deleteWithDv(spark, table,
          keyStatsTouch(ks.min, ks.max), col("o_id").isin(ks: _*)),
        rows = _.asInstanceOf[Long], after = { n =>
          checks.check(n == ks.size.toLong,
            s"dv_delete removed $n of ${ks.size} keys")
          ks.foreach(snap.remove)
          committed()
        })
    }

    private def dvUpdate(): Op = {
      val ks = someKeys(20)
      Op("dv_update", Write, () => Versioned.updateWithDv(spark, table,
          keyStatsTouch(ks.min, ks.max), col("o_id").isin(ks: _*),
          _.withColumn("amount_cents", col("amount_cents") + 100L)),
        rows = _.asInstanceOf[Long], after = { n =>
          checks.check(n == ks.size.toLong,
            s"dv_update changed $n of ${ks.size} keys")
          ks.foreach(k => snap(k) = snap(k).copy(amount = snap(k).amount + 100))
          committed()
        })
    }

    private def readPoint(i: Int): Op = {
      val k = if (rng.int(10) == 0) maxKey + 1000 else recentKey(snap)
      Op("read_point", Read, () => {
        val df = spark.sql(s"SELECT amount_cents FROM $sqlTable WHERE o_id = $k")
        (df, df.collect().map(_.getLong(0)).toSeq)
      }, after = { v =>
        val (df, got) = v.asInstanceOf[(DataFrame, Seq[Long])]
        checks.check(got == snap.get(k).map(_.amount).toSeq,
          s"point read of $k: $got, model ${snap.get(k)}")
        scanRatio(i, df)
      })
    }

    private def readRange(i: Int): Op = {
      val end = Day0 + Days - 1 - rng.zipf(Days)
      val start = end - 6
      def day(d: Int) = java.time.LocalDate.ofEpochDay(d).toString
      Op("read_range", Read, () => {
        val df = spark.sql(s"""SELECT count(*), coalesce(sum(amount_cents), 0)
          FROM $sqlTable WHERE o_date BETWEEN DATE'${day(start)}'
          AND DATE'${day(end)}'""")
        (df, df.head())
      }, after = { v =>
        val (df, r) = v.asInstanceOf[(DataFrame, Row)]
        val in = snap.filter { case (k, _) =>
          val d = info(k).date; d >= start && d <= end }
        val want = (in.size.toLong, in.values.map(_.amount).sum)
        checks.check((r.getLong(0), r.getLong(1)) == want,
          s"range ${day(start)}..${day(end)}: $r, model $want")
        scanRatio(i, df)
      })
    }

    /** Files the scan kept after pruning, over the version's live files
      * (traced ops only: the plan is already built, so no extra job). */
    private def scanRatio(i: Int, df: DataFrame): Unit =
      if (tracer.enabled) ScanProbe.scannedFiles(df).foreach { n =>
        scanRatios(i) = n.toDouble / Versioned.versionFiles(spark, table).size
      }

    def cycleStarts(next: Int): Boolean = (next - warmOps) % windowOps == 0

    def liveRows(): Long = snap.size.toLong + parq.size

    def fingerprint(s: Long): String = {
      val r = rngFor(s)
      Fs.sha256((1 to 64).map(historyRow(r, _)).mkString(",")
        .getBytes("UTF-8"))
    }

    def finish(): Unit = {
      checks.check(digestOf(spark.table(sqlTable)) == digest(snap),
        "final snapshot table differs from the model")
      checks.check(digestOf(spark.read.parquet(sibling)) == digest(parq),
        "final parquet sibling differs from the model")
    }

    def layer(w: Window): Map[String, Double] = {
      def rewritten(op: String) = {
        val runs = w.ofOp(op)
        if (runs.isEmpty) 0.0
        else runs.map(_.jobs.map(_.outputRecords).sum).sum.toDouble /
          runs.map(_.sample.rows).sum
      }
      val writes = w.traced.filter(r => r.sample.kind == Write &&
        r.sample.op != "backfill")
      val userBytes = writes.map(_.sample.rows).sum * userBytesPerRow
      Map(
        "scan.files_scanned_ratio" -> {
          val rs = scanRatios.filter(r => w.contains(r._1)).values.toSeq
          if (rs.isEmpty) 0.0 else Stats.median(rs)
        },
        "merge.rows_rewritten_ratio.merge_sql" -> rewritten("merge_sql"),
        "merge.rows_rewritten_ratio.merge_parquet" -> rewritten("merge_parquet"),
        "sources.files_written" -> (w.end.dataFiles - w.start.dataFiles).toDouble,
        "versioned.write_amp" -> (if (userBytes > 0)
          writes.flatMap(_.jobs).map(_.outputBytes).sum / userBytes else 0.0))
    }
  }
}
