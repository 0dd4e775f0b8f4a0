package graft.perfbench

import graft.operators.{Dedup, Similarity}
import graft.queries.CapstoneQueries
import graft.streaming.{AnnIngest, AutoCompact, NearDedup}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** corpus_stream — the LLM-data path. Set-up gates a synthetic corpus
  * with CapstoneQueries.gate, then builds the MinHash band index, a
  * float IVF index and an IVF-PQ (int8) sibling over it. Each write op
  * is one arriving micro-batch of [[BatchDocs]] documents in fixed
  * class counts: fresh documents, exact copies of corpus documents,
  * in-batch copies of that batch's fresh documents, and documents the
  * gate rejects (ids held out as the eval set). The batch is gated,
  * goes through NearDedup.processBatch, and its survivors go through
  * AnnIngest.processBatch into both indexes. Batch [[DriftBatch]]
  * carries embeddings from a subspace the corpus never uses, which must
  * fire AutoRetrain (float) and AutoRebuild (PQ) exactly once. Every
  * [[ProbeEvery]]th op is a read: one probe batch against both indexes,
  * checked against Similarity.bruteForceTopK.
  */
object CorpusStream extends WorkloadSpec {
  val name = "corpus_stream"
  val warmOps = 0
  val windowOps = 3

  // sf0.1's embeddings: 2,000 unit vectors of 64 dimensions, 10 labels
  val CorpusDocs = 2000
  val Dim = 64
  val Clusters = 10
  // sf0.1's documents run from 103 to 493 characters (p10-p90); at
  // up to 7 characters a word that is 16 to 72 words, which also keeps
  // every document under the gate's 520-character cap
  val MinWords = 16
  val MaxWords = 72
  val BatchDocs = 100
  // per batch: fresh + corpus copies + in-batch copies + gate rejects
  val Fresh = 70
  val CorpusCopies = 15
  val InBatchCopies = 10
  val Rejected = BatchDocs - Fresh - CorpusCopies - InBatchCopies
  val DriftBatch = 1L
  val ProbeEvery = 3
  val Queries = 8
  val K = 10
  val NProbe = 4
  val RecallFloor = 0.8
  private val Stopwords = Seq("the", "a", "and", "of", "to", "in", "is")

  /** The stream of seeded choices: batch order and probe queries. */
  private def rngFor(seed: Long) = new Rng(seed * 104729 + 5)

  def make(ctx: Ctx): Workload = new Run(ctx)

  /** One document to generate: text and embedding are functions of
    * their seeds, so a copy shares the original's text seed. */
  final case class Doc(id: Long, textSeed: Long, embSeed: Long,
      drift: Boolean)

  final class Run(ctx: Ctx) extends Workload {
    import ctx._
    private val corpusPath = s"$root/inputs/corpus.parquet"
    private val bandIndex = s"$root/index/bands"
    private val ivfPath = s"$root/index/ivf"
    private val pqPath = s"$root/index/ivfpq"
    private val vectors = s"$root/index/vectors" // the PQ rescoring source
    private val dedupOut = s"$root/dedup"
    def roots: Seq[String] = Seq(s"$root/index", dedupOut)

    private val rng = rngFor(seed)
    private var nextId = 1L
    private var nextReject = 1L
    private var nextSeed = 1L
    private var batchNo = 0L
    private var live = 0L
    private var seedCodebook: Similarity.IvfCodebook = _
    private val autoCompact = Some(AutoCompact())
    private val outcomes = mutable.Map.empty[Int, (NearDedup.BatchOutcome,
      AnnIngest.BatchOutcome, AnnIngest.BatchOutcome)]
    private val recalls = mutable.Map.empty[Int, (Double, Double)]
    private var bruteBytes = 0L
    private var userBytesPerDoc = 0.0

    /** An id the gate admits (not a multiple of 97). */
    private def admittedId(): Long = {
      if (nextId % 97 == 0) nextId += 1
      nextId += 1
      nextId - 1
    }
    private def freshSeed(): Long = { nextSeed += 1; nextSeed - 1 }

    private val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text_seed", LongType), StructField("emb_seed", LongType),
      StructField("drift", BooleanType)))

    /** Documents as (doc_id, text, n_chars, embedding): [[MinWords]] to
      * [[MaxWords]] tokens drawn from a 50k-word vocabulary with one
      * stopword in five (the first token always one, as the gate wants
      * a stopword in every document), and a unit-ish vector near one of the first
      * [[Clusters]] axes, with noise in those dimensions (the next
      * [[Clusters]] for drift documents; the rest stay 0). */
    private def docs(ds: Seq[Doc], seed: Long = ctx.seed): DataFrame = {
      val spec = spark.createDataFrame(java.util.Arrays.asList(
        ds.map(d => Row(d.id, d.textSeed, d.embSeed, d.drift)): _*), docSchema)
      val ts = col("text_seed")
      val n = lit(MinWords.toLong) +
        pmod(xxhash64(lit(seed), ts, lit(-1)), lit(MaxWords - MinWords + 1L))
      val words = transform(sequence(lit(0L), n - 1), i => {
        val h = xxhash64(lit(seed), ts, i)
        when(pmod(h, lit(5L)) === 0 || i === 0,
          element_at(array(Stopwords.map(lit): _*),
            (pmod(shiftright(h, 8), lit(Stopwords.size.toLong)) + 1).cast("int")))
          .otherwise(concat(lit("w"),
            pmod(shiftright(h, 16), lit(50000L)).cast("string")))
      })
      val es = col("emb_seed")
      val axis = pmod(xxhash64(lit(seed), es, lit(-2)), lit(Clusters.toLong)) +
        when(col("drift"), lit(Clusters.toLong)).otherwise(lit(0L))
      val emb = transform(sequence(lit(0L), lit(Dim - 1L)), d => {
        val noise = (pmod(xxhash64(lit(seed), es, d), lit(1000L))
          .cast("double") / 1000.0 - 0.5) * 0.5
        val inBlock = when(col("drift"), d >= Clusters && d < 2 * Clusters)
          .otherwise(d < Clusters)
        (when(d === axis, lit(1.0)).otherwise(lit(0.0)) +
          when(inBlock, noise).otherwise(lit(0.0))).cast("float")
      })
      spec.select(col("doc_id"), concat_ws(" ", words).as("text"), emb.as("embedding"))
        .withColumn("n_chars", length(col("text")))
    }

    def generate(): String = {
      val corpus = (1 to CorpusDocs).map(_ =>
        Doc(admittedId(), freshSeed(), freshSeed(), drift = false))
      val d = Digest.write(docs(corpus).coalesce(1), corpusPath)()
      userBytesPerDoc = Fs.bytes(corpusPath).toDouble / CorpusDocs
      Digest.combine(Seq(d))
    }

    def backfill(): Unit = {
      val corpus = spark.read.parquet(corpusPath)
      val gated = CapstoneQueries.gate(corpus)
      Dedup.writeBandIndex(gated, col("text"), "doc_id", bandIndex)
      val vecs = corpus.join(gated.select("doc_id"), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("embedding")).localCheckpoint(true)
      vecs.write.parquet(vectors)
      seedCodebook = Similarity.buildCodebook(vecs, "embedding", "doc_id",
        Clusters, refineIters = 1)
      Similarity.writePersistedIvf(vecs, "embedding", seedCodebook, ivfPath)
      Similarity.writePersistedIvfPq(vecs, "embedding", "doc_id", seedCodebook,
        pqPath)
      live = vecs.count()
    }

    /** The corpus documents whose copies arrive: every id before the
      * stream started, spread evenly. */
    private def corpusDoc(j: Int): Doc = {
      val k = 1L + (j.toLong * 7919L) % CorpusDocs
      // ids skip multiples of 97, seeds count 2 per corpus doc
      Doc(-1L, 2 * k - 1, 2 * k, drift = false)
    }

    def op(i: Int): Op =
      if (i % ProbeEvery == ProbeEvery - 1) probe(i) else batch(i)

    private def batch(i: Int): Op = {
      val b = batchNo
      batchNo += 1
      val drift = b == DriftBatch
      val fresh = (1 to Fresh).map(_ =>
        Doc(admittedId(), freshSeed(), freshSeed(), drift))
      val copies = (0 until CorpusCopies).map { j =>
        corpusDoc((b * CorpusCopies + j).toInt).copy(id = admittedId()) }
      val inBatch = fresh.take(InBatchCopies).map(_.copy(id = admittedId()))
      val rejected = (1 to Rejected).map { _ =>
        nextReject += 1
        Doc(97L * (1000000L + nextReject), freshSeed(), freshSeed(), drift)
      }
      val all = rng.shuffle(fresh ++ copies ++ inBatch ++ rejected)
      Op("batch", Write, () => {
        val raw = docs(all)
        val gated = CapstoneQueries.gate(raw)
        val o = NearDedup.processBatch(gated, b, col("text"), "doc_id",
          bandIndex, dedupOut, autoCompact = autoCompact)
        val vecs = raw.select(col("doc_id"), col("embedding"))
          .join(spark.read.parquet(s"$dedupOut/survivors/batch=$b")
            .select("doc_id"), Seq("doc_id"), "left_semi")
          .localCheckpoint(true)
        vecs.write.mode("append").parquet(vectors)
        val f = AnnIngest.processBatch(vecs, b, "embedding", seedCodebook,
          ivfPath, autoRetrain = Some(AnnIngest.AutoRetrain("doc_id")))
        val p = AnnIngest.processBatch(vecs, b, "embedding", seedCodebook,
          pqPath, pqId = Some("doc_id"), autoRebuild = Some(
            AnnIngest.AutoRebuild(s => s.read.parquet(vectors), "doc_id")))
        (o, f, p)
      }, rows = v => v.asInstanceOf[(NearDedup.BatchOutcome, _, _)]._1.admitted,
      after = { v =>
        val (o, f, p) = v.asInstanceOf[(NearDedup.BatchOutcome,
          AnnIngest.BatchOutcome, AnnIngest.BatchOutcome)]
        outcomes(i) = (o, f, p)
        val want = NearDedup.BatchOutcome(b, BatchDocs - Rejected,
          CorpusCopies, InBatchCopies, Fresh, o.indexVersion, replayed = false,
          compacted = o.compacted)
        checks.check(o == want, s"batch $b dedup outcome $o, closed form $want")
        checks.check(f.appended == Fresh && p.appended == Fresh,
          s"batch $b appended ${f.appended} / ${p.appended}, want $Fresh")
        checks.check(f.retrained == drift && p.retrained == drift,
          s"batch $b retrained float=${f.retrained} pq=${p.retrained}, " +
            s"drift batch: $drift")
        live += Fresh
        // a replayed batch id is skipped by both sinks
        if (b == 0) {
          val again = NearDedup.processBatch(CapstoneQueries.gate(docs(all)),
            b, col("text"), "doc_id", bandIndex, dedupOut)
          checks.check(again.replayed, s"replayed batch $b was not skipped")
        }
      })
    }

    private def probe(i: Int): Op = {
      val qs = (0 until Queries).map { q =>
        val axis = rng.int(Clusters)
        q -> Array.tabulate(Dim)(d =>
          ((if (d == axis) 1.0 else 0.0) +
            (if (d < Clusters) (rng.double() - 0.5) * 0.5 else 0.0)).toFloat)
      }
      val qdf = spark.createDataFrame(java.util.Arrays.asList(qs.map {
        case (q, v) => Row(q.toLong, v.toSeq) }: _*),
        StructType(Seq(StructField("qid", LongType),
          StructField("q_emb", ArrayType(FloatType, containsNull = false)))))
      Op("probe", Read, () => {
        val source = spark.read.parquet(vectors)
        val ivf = Similarity.probePersistedIvfMany(spark, ivfPath, "embedding",
          "doc_id", qdf, "qid", "q_emb", NProbe, K).collect()
        val pq = Similarity.probePersistedIvfPqMany(spark, pqPath, source,
          "embedding", "doc_id", qdf, "qid", "q_emb", NProbe, 4 * K, K)
          .collect()
        (ivf, pq)
      }, after = { v =>
        val (ivf, pq) = v.asInstanceOf[(Array[Row], Array[Row])]
        def ids(rs: Array[Row]) =
          rs.groupBy(_.getLong(0)).map { case (q, r) => q -> r.map(_.getLong(1)).toSet }
        val (ivfIds, pqIds) = (ids(ivf), ids(pq))
        val source = spark.read.parquet(vectors)
        val brute = qs.map { case (q, v) =>
          q.toLong -> Similarity.bruteForceTopK(source, "embedding", "doc_id",
            v, K).collect().map(_.getLong(0)).toSet
        }.toMap
        bruteBytes = Fs.bytes(vectors)
        def recall(got: Map[Long, Set[Long]]) =
          brute.map { case (q, want) =>
            (got.getOrElse(q, Set.empty) intersect want).size.toDouble / K
          }.sum / brute.size
        val (ri, rp) = (recall(ivfIds), recall(pqIds))
        recalls(i) = (ri, rp)
        checks.check(ri >= RecallFloor && rp >= RecallFloor,
          s"probe recall@$K ivf=$ri pq=$rp below the floor $RecallFloor")
      })
    }

    def cycleStarts(next: Int): Boolean = next % ProbeEvery == 0

    def liveRows(): Long = live

    /** The first corpus documents and the first batch's order. */
    def fingerprint(s: Long): String = {
      val first = (1 to 8).map(k => Doc(k, 2L * k - 1, 2L * k, drift = false))
      Fs.sha256((docs(first, s).collect().map(r =>
          s"${r.getLong(0)}:${r.getString(1)}:${r.getSeq[Float](2).mkString(",")}") ++
        rngFor(s).shuffle(0 until BatchDocs)).mkString("|").getBytes("UTF-8"))
    }

    def finish(): Unit = {
      val fired = outcomes.values.toSeq
      checks.check(outcomes.values.exists(_._1.batchId == DriftBatch),
        s"the run ended before drift batch $DriftBatch")
      checks.check(fired.count(_._2.retrained) == 1 &&
        fired.count(_._3.retrained) == 1,
        s"retrains ${fired.count(_._2.retrained)}, rebuilds " +
          s"${fired.count(_._3.retrained)}; want one each")
      checks.check(recalls.nonEmpty, "the run made no probe")
    }

    def layer(w: Window): Map[String, Double] = {
      val in = outcomes.filter(o => w.contains(o._1)).values.toSeq
      val dedup = in.map(_._1)
      val rs = recalls.filter(r => w.contains(r._1)).values.toSeq
      val probes = w.ofOp("probe")
      val probeBytes = probes.flatMap(_.jobs).map(_.inputBytes).sum
      val batches = w.ofOp("batch")
      val userBytes = batches.map(_.sample.rows).sum * userBytesPerDoc
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      Map(
        "dedup.admitted" -> dedup.map(_.admitted).sum.toDouble,
        "dedup.dup_of_corpus" -> dedup.map(_.dupOfCorpus).sum.toDouble,
        "dedup.dup_in_chunk" -> dedup.map(_.dupInChunk).sum.toDouble,
        "dedup.survivor_ratio" -> (dedup.map(_.survivors).sum.toDouble /
          math.max(1L, dedup.map(_.admitted).sum)),
        // versions are numbered from 0: the last batch's commit counts them
        "dedup.index_versions" ->
          dedup.map(_.indexVersion + 1).maxOption.getOrElse(0L).toDouble,
        "dedup.compactions" -> dedup.count(_.compacted).toDouble,
        "ann.appended" -> in.map(_._2.appended).sum.toDouble,
        "ann.retrains" -> in.count(_._2.retrained).toDouble,
        "ann.rebuilds" -> in.count(_._3.retrained).toDouble,
        "ann.recall_ivf" -> mean(rs.map(_._1)),
        "ann.recall_pq" -> mean(rs.map(_._2)),
        "ann.probe_bytes_ratio" -> (if (probes.isEmpty || bruteBytes == 0) 0.0
          else probeBytes.toDouble / probes.size / (2.0 * Queries * bruteBytes)),
        "sources.files_written" -> (w.end.dataFiles - w.start.dataFiles).toDouble,
        "versioned.write_amp" -> (if (userBytes > 0)
          batches.flatMap(_.jobs).map(_.outputBytes).sum / userBytes else 0.0))
    }
  }
}
