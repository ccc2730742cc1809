package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, md5}

import graft.operators.Dedup

/** `dedup_ingest`: one client replays seeded document batches against a
  * persistent near-duplicate index. Set-up writes a fresh bucketed band
  * index and hash corpus from a seeded "seen" split of `documents`. Each
  * batch holds unseen documents, perturbed near-duplicates and exact
  * copies of seen ones, at the rates and with the edit that
  * `perfbench/dedup_mix.py` measured in `documents` itself
  * (`dedup_mix.json`). Per batch the client finds candidate pairs
  * against the index, confirms them by exact Jaccard, finds the exact
  * duplicates against the corpus, and appends the survivors to both
  * tables. The last batch of every pass also compacts both tables.
  *
  * Why: this is the training-data pipeline's production loop — MinHash
  * and shingle work in the operators, and the bucketed write, append and
  * compaction path beside the reads. It bypasses SQL text planning, the
  * scan router and the object store. */
final class DedupIngest(dataDir: String, seed: Long) extends Workload {
  val SeenFraction = 0.25
  val BatchDocs = 20
  /** Batches per pass; the pass's last batch also compacts. */
  val BatchesPerCompaction = 4
  val Buckets = 4
  val MinJaccard = 0.5
  /** Batches whose outputs are re-derived by the non-indexed path. */
  val VerifyBatches = 2

  /** The measured duplicate mix: exact and near duplicates per corpus
    * document, the word a near duplicate appends, and the documents that
    * take part in a duplicate pair (never drawn as unseen). */
  private val mix = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(java.nio.file.Paths.get(dataDir, "..", "dedup_mix.json").toFile)
  private val corpusDocs = mix.get("documents").asLong
  private val exactDocs = mix.get("exact_dup_docs").asLong
  private val nearDocs = mix.get("near_dup_docs").asLong
  private val appendedWord = mix.get("appended_word").asText
  private val inDupPair = mix.get("dup_pair_doc_ids").elements().asScala.map(_.asLong).toSet

  def constants: Map[String, Any] = Map("data" -> "sf0.1 documents",
    "seen_fraction" -> SeenFraction, "batch_docs" -> BatchDocs,
    "near_dup_rate" -> nearDocs.toDouble / corpusDocs,
    "exact_dup_rate" -> exactDocs.toDouble / corpusDocs, "near_dup_edit" -> s"append '$appendedWord'",
    "compact_every_batches" -> BatchesPerCompaction,
    "buckets" -> Buckets, "min_jaccard" -> MinJaccard, "verify_batches" -> VerifyBatches)

  private var spark: SparkSession = _
  def session: SparkSession = spark
  private var indexTable: String = _
  private var corpusTable: String = _
  private var seen: IndexedSeq[(Long, String)] = _
  private var pool: IndexedSeq[(Long, String)] = _
  private val texts = mutable.HashMap.empty[Long, String]

  private final case class BatchRecord(no: Int, docs: Seq[(Long, String)],
      candidates: Set[(Long, Long)], confirmed: Int, newRows: Int, survivors: Seq[Long])
  private val done = mutable.ArrayBuffer.empty[BatchRecord]
  private var filesSeen = Map.empty[String, Long]

  def setup(s: SparkSession): Unit = {
    import s.implicits._
    val docs = s.read.parquet(s"$dataDir/docs/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().sortBy(_._1)
    val shuffled = new scala.util.Random(seed).shuffle(docs.toIndexedSeq)
    val nSeen = (docs.length * SeenFraction).toInt
    seen = shuffled.take(nSeen)
    pool = shuffled.drop(nSeen).filterNot(d => inDupPair.contains(d._1))
    texts ++= seen
    indexTable = "perfbench_band_index"
    corpusTable = "perfbench_hash_corpus"
    val seenDf = seen.toDF("doc_id", "text")
    Dedup.writeBandIndex(seenDf, indexTable, Buckets)
    Dedup.writeHashCorpus(seenDf.select(col("doc_id"), md5(col("text")).as("h")), corpusTable, Buckets)
    spark = s
    filesSeen = listFiles()
  }

  /** Documents of that rate among the first `no` batches' documents:
    * each batch gets the whole documents the rate has accrued since the
    * previous one, so the counts are the same for every seed. */
  private def accrued(no: Int, perCorpus: Long): Int = (no.toLong * BatchDocs * perCorpus / corpusDocs).toInt

  private def batchDocs(no: Int): Seq[(Long, String)] = {
    val rng = new scala.util.Random(seed * 1000003L + no)
    val nNear = accrued(no + 1, nearDocs) - accrued(no, nearDocs)
    val nExact = accrued(no + 1, exactDocs) - accrued(no, exactDocs)
    val unseen = (0 until BatchDocs - nNear - nExact).map(i => pool((no * BatchDocs + i) % pool.length))
    def fresh(i: Int) = 1000000000L + no * 100L + i
    def aSeen() = seen(rng.nextInt(seen.length))._2
    val near = (0 until nNear).map(i => fresh(i) -> s"${aSeen()} $appendedWord")
    val exact = (0 until nExact).map(i => fresh(nNear + i) -> aSeen())
    rng.shuffle(unseen ++ near ++ exact)
  }

  private def frame(docs: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    docs.toDF("doc_id", "text")
  }

  private def hashed(df: DataFrame): DataFrame = df.select(col("doc_id"), md5(col("text")).as("h"))

  /** Candidate (new, seen) pairs confirmed by exact Jaccard. */
  private def confirm(docs: Seq[(Long, String)],
      cands: Set[(Long, Long)]): Set[(Long, Long)] = {
    if (cands.isEmpty) return Set.empty
    val ids = docs.map(_._1).toSet
    val extra = cands.map(_._2).filterNot(ids.contains).toSeq.sorted.map(i => i -> texts(i))
    val pairs = Dedup.jaccardPairs(frame(docs ++ extra), MinJaccard).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    cands.filter { case (a, b) => pairs.contains((math.min(a, b), math.max(a, b))) }
  }

  def pass(passNo: Int): Seq[Op] =
    (0 until BatchesPerCompaction).map { j =>
      val no = passNo * BatchesPerCompaction + j
      val compact = j == BatchesPerCompaction - 1
      Op(if (compact) "batch_compact" else "batch", () => {
        val docs = batchDocs(no)
        val batch = frame(docs)
        val cands = Trace.span("operators.candidates") {
          Dedup.batchCandidates(spark, indexTable, batch).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
        }
        val confirmed = Trace.span("operators.jaccard")(confirm(docs, cands))
        val newIds = Trace.span("operators.corpus_new") {
          Dedup.corpusNew(spark, corpusTable, hashed(batch)).collect().map(_.getLong(0)).toSet
        }
        val dups = confirmed.map(_._1)
        val survivors = docs.filter { case (id, _) => newIds.contains(id) && !dups.contains(id) }
        Trace.span("sources.append") {
          val sf = frame(survivors)
          Dedup.appendBandIndex(spark, indexTable, sf)
          Dedup.appendHashCorpus(spark, corpusTable, hashed(sf))
        }
        if (compact) Trace.span("sources.compact") {
          Dedup.compactBandIndex(spark, indexTable)
          Dedup.compactBandIndex(spark, corpusTable)
        }
        texts ++= survivors
        done += BatchRecord(no, docs, cands, confirmed.size, newIds.size, survivors.map(_._1))
        () => {
          Main.Counters.add("operators.candidate_pairs", cands.size)
          Main.Counters.add("operators.confirmed_pairs", confirmed.size)
          Main.Counters.add("operators.new_rows", newIds.size)
          Main.Counters.add("sources.ingested_mb", docs.map(_._2.getBytes("UTF-8").length).sum / 1e6)
          val now = listFiles()
          Main.Counters.add("sources.write_mb",
            now.collect { case (f, n) if !filesSeen.contains(f) => n }.sum / 1e6)
          filesSeen = now
          None // outputs are checked against the non-indexed path in verify
        }
      })
    }

  private def listFiles(): Map[String, Long] =
    Seq(indexTable, corpusTable).flatMap(t => spark.table(t).inputFiles).map { f =>
      f -> new java.io.File(new java.net.URI(f)).length()
    }.toMap

  def counters(): Map[String, Double] = Map(
    "sources.index_files" -> spark.table(indexTable).inputFiles.length.toDouble,
    "sources.compactions" -> done.count(b => (b.no + 1) % BatchesPerCompaction == 0).toDouble)

  override def gauges: Set[String] = Set("sources.index_files")

  /** Re-derive a seeded sample of warm batches through the non-indexed
    * path — in-query LSH against the seen documents as they stood before
    * the batch, and a plain anti-join for exact duplicates — and compare
    * candidates, confirmations and new rows. */
  override def verify(warm: Map[String, Double]): Seq[String] = {
    val sample = new scala.util.Random(seed).shuffle(done.filter(_.no >= BatchesPerCompaction).toSeq)
      .take(VerifyBatches)
    sample.flatMap { b =>
      val before = seen ++ done.filter(_.no < b.no).flatMap(p => p.survivors.map(i => i -> texts(i)))
      val seenDf = frame(before)
      val batch = frame(b.docs)
      val cands = Dedup.incrementalLshPairs(seenDf, batch).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val confirmed = confirm(b.docs, cands).size
      val newRows = hashed(batch).join(hashed(seenDf).select("h"), Seq("h"), "left_anti").count().toInt
      val want = (cands.size, confirmed, newRows)
      val got = (b.candidates.size, b.confirmed, b.newRows)
      if (cands == b.candidates && want == got) None
      else Some(s"batch ${b.no}: indexed path (candidates, confirmed, new) = $got, " +
        s"non-indexed path = $want")
    }
  }

  def regime(run: Map[String, Double]): Seq[String] =
    if (run("sources.compactions") > 0) Nil else Seq("dedup_ingest ran no compaction")
}
