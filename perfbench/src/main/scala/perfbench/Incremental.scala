package perfbench

import graft.llm.{Dedup, Similarity}
import graft.streaming.{IndexedIngestDedup, VectorIngest}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Index lifecycle under a closed-loop stream of writes and reads against
  * two standing indexes (an LSH near-duplicate index over documents and an
  * IVF-PQ index over embeddings), with the batch query entries ([[Batch]])
  * as ad-hoc reads in the same loop. pb/gen_incremental.py writes the base
  * slices, every write's input (from the seed) and the operation plan.
  * Set-up builds both indexes from the base slices and snapshots them;
  * every pass restores the snapshot (untimed) and runs the plan:
  *  - lsh_ingest: one micro-batch through IndexedIngestDedup.ingestLoop
  *  - ivfpq_maintain: one micro-batch through VectorIngest.maintainIndexStream
  *    (appends; the delta share stays under the retrain threshold)
  *  - delete: one micro-batch of vector ids through VectorIngest.deleteStream,
  *    plus a batch of document ids tombstoned in the LSH index
  *  - lsh_compact: Dedup.compactLshIndex
  *  - queries: every [[Batch]] entry, one operation each
  *  - lsh_probe / ivfpq_probe: read-only probes, which end the plan
  * After each pass the final probes are compared (untimed) with the same
  * probes against clean rebuilds of the live corpus; a mismatch, or a
  * deleted id in any result, fails that probe.
  */
final class Incremental(spark: SparkSession, rec: Recorder, inputs: String,
                        work: String) extends Workload {
  import Incremental._

  private val state = s"$work/state"
  private val snap = s"$work/snap"
  private val pending = s"$inputs/pending"
  private val lshPath = s"$state/lsh"
  private val corpusDir = s"$state/corpus"
  private val ivfpqPath = Similarity.ivfpqIndexPath(corpusDir, NList, M, KSub, Iters)
  private val plan = Batch.readLines(s"$inputs/plan.txt")
  private val queries = new Batch(spark, rec, inputs)

  private lazy val baseDocs = spark.read.parquet(s"$inputs/base_docs.parquet").cache()
  private lazy val probeDocs = spark.read.parquet(s"$inputs/probe_docs.parquet").cache()
  private lazy val vectorQueries = spark.read.parquet(s"$inputs/queries.parquet").cache()
  private def deleted(kind: String): Set[Long] =
    plan.filter(_ == "delete").indices
      .flatMap(i => spark.read.parquet(s"$pending/delete_${kind}_$i.parquet").collect()
        .map(_.getLong(0))).toSet

  def outputDirs: Seq[String] =
    Seq(state, ivfpqPath, s"$ivfpqPath.tombstones") ++ queries.outputDirs

  def setup(): Unit = {
    rec.span("llm.Dedup.buildLshIndex") {
      Dedup.buildLshIndex(baseDocs, lshPath, n = 3, numHashes = 64, bands = 32)
    }
    Main.copyRecursively(s"$inputs/base_vectors", s"$corpusDir/embeddings.parquet/base")
    rec.span("llm.Similarity.buildIvfPq+saveIvfPq") {
      Similarity.saveIvfPq(Similarity.buildIvfPq(
        VectorIngest.readCorpusStore(spark, corpusDir), NList, M, KSub, Iters), ivfpqPath)
    }
    Main.copyRecursively(state, s"$snap/state")
    Main.copyRecursively(ivfpqPath, s"$snap/ivfpq")
    probeDocs.count(); vectorQueries.count()
    queries.setup()
  }

  /** Move a staged input into a stream's source directory. */
  private def arrive(name: String, src: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    java.nio.file.Files.copy(java.nio.file.Paths.get(pending, s"$name.parquet"),
      java.nio.file.Paths.get(src, s"$name.parquet"))
  }

  override def prepare(pass: Int): Unit = {
    Main.deleteRecursively(state)
    Main.deleteRecursively(ivfpqPath)
    Main.deleteRecursively(s"$ivfpqPath.tombstones")
    Main.copyRecursively(s"$snap/state", state)
    Main.copyRecursively(s"$snap/ivfpq", ivfpqPath)
  }

  private def survivors = IndexedIngestDedup.survivorsBefore(spark, s"$state/surv",
    baseDocs.schema, None)
  private def standing = baseDocs.unionByName(survivors)
  private def corpus = VectorIngest.readCorpusStore(spark, corpusDir)
  private def stream(src: String, like: String) =
    spark.readStream.schema(spark.read.parquet(s"$pending/$like.parquet").schema)
      .option("maxFilesPerTrigger", 1).parquet(src)

  private def lshProbe(path: String): Set[(Long, Long, Long)] =
    Dedup.incrementalDedupPairs(path, probeDocs, standing, Threshold).collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet

  private def ivfpqProbe(index: Similarity.IvfPqIndex): Set[(Long, Long, Int)] =
    Similarity.ivfpqQuery(index, vectorQueries, k = 5, nprobe = 4)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  private var lastLsh = Set.empty[(Long, Long, Long)]
  private var lastIvfpq = Set.empty[(Long, Long, Int)]

  def run(pass: Int): Unit = {
    lastLsh = Set.empty
    lastIvfpq = Set.empty
    val seen = collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    plan.foreach { kind =>
      val i = seen(kind)
      seen(kind) += 1
      kind match {
        case "lsh_ingest" => arrive(s"lsh_ingest_$i", s"$state/src_ingest")
        case "ivfpq_maintain" => arrive(s"ivfpq_maintain_$i", s"$state/src_maintain")
        case "delete" => arrive(s"delete_vec_$i", s"$state/src_delete")
        case _ =>
      }
      if (kind == "queries") queries.run(pass)
      else rec.op(s"$kind#$i", kind, pass) { o =>
        kind match {
          case "lsh_ingest" => rec.span("llm.IndexedIngestDedup.ingestLoop") {
            IndexedIngestDedup.ingestLoop(stream(s"$state/src_ingest", "lsh_ingest_0"), lshPath,
              baseDocs, s"$state/surv", s"$state/pairs", s"$state/chk_ingest", Threshold)
          }
          case "ivfpq_maintain" => rec.span("llm.VectorIngest.maintainIndexStream") {
            VectorIngest.maintainIndexStream(stream(s"$state/src_maintain", "ivfpq_maintain_0"),
              corpusDir, s"$state/chk_maintain", NList, M, KSub, Iters, MaxDeltaFraction)
          }
          case "delete" =>
            rec.span("llm.VectorIngest.deleteStream") {
              VectorIngest.deleteStream(stream(s"$state/src_delete", "delete_vec_0"), ivfpqPath,
                s"$state/chk_delete")
            }
            rec.span("llm.Dedup.tombstoneLshIds") {
              Dedup.tombstoneLshIds(spark, lshPath,
                spark.read.parquet(s"$pending/delete_doc_$i.parquet"))
            }
          case "lsh_compact" => rec.span("llm.Dedup.compactLshIndex") {
            Dedup.compactLshIndex(spark, lshPath)
          }
          case "lsh_probe" =>
            lastLsh = rec.span("llm.Dedup.incrementalDedupPairs") { lshProbe(lshPath) }
            o.info("pairs") = lastLsh.size
          case "ivfpq_probe" =>
            lastIvfpq = rec.span("llm.Similarity.ivfpqQuery") {
              ivfpqProbe(Similarity.loadIvfPq(spark, ivfpqPath, corpus))
            }
            o.info("rows") = lastIvfpq.size
        }
      }
    }
  }

  override def check(pass: Int): Unit = {
    val passOps = rec.ops.filter(_.pass == pass)
    def failLast(kind: String, why: String): Unit =
      passOps.filter(_.kind == kind).lastOption.foreach(rec.fail(_, why))
    val goneDocs = deleted("doc")
    val goneVecs = deleted("vec")
    val checkDir = s"$work/check"
    Main.deleteRecursively(checkDir)

    // LSH: the maintained index against a clean build of the live corpus
    val live = standing.filter(!col("doc_id").isin(goneDocs.toSeq: _*))
    Dedup.buildLshIndex(live, s"$checkDir/lsh", n = 3, numHashes = 64, bands = 32)
    val got = lastLsh
    val want = lshProbe(s"$checkDir/lsh")
    if (got != want)
      failLast("lsh_probe", s"LSH probe differs from a clean rebuild " +
        s"(${(got diff want).size} extra, ${(want diff got).size} missing)")
    if (got.exists(p => goneDocs.contains(p._2)))
      failLast("lsh_probe", "LSH probe returned a deleted document")

    // IVF-PQ: ids indexed, then probes against the live corpus re-encoded
    // with the maintained index's model
    val maintained = Similarity.loadIvfPq(spark, ivfpqPath, corpus)
    val liveVecs = corpus.filter(!col("vec_id").isin(goneVecs.toSeq: _*))
    val indexed = maintained.codes.select("cid").distinct().collect().map(_.getLong(0)).toSet
    val expected = liveVecs.select("vec_id").collect().map(_.getLong(0)).toSet
    if (indexed != expected)
      failLast("ivfpq_probe", s"IVF-PQ index holds ${(indexed diff expected).size} dead and " +
        s"misses ${(expected diff indexed).size} live vectors")
    Similarity.saveIvfPq(maintained.copy(codes = Similarity.encodeIvfPqDelta(maintained, liveVecs)),
      s"$checkDir/ivfpq")
    val gotV = lastIvfpq
    val wantV = ivfpqProbe(Similarity.loadIvfPq(spark, s"$checkDir/ivfpq", liveVecs))
    if (gotV != wantV)
      failLast("ivfpq_probe", s"IVF-PQ probe differs from a clean re-encode " +
        s"(${(gotV diff wantV).size} extra, ${(wantV diff gotV).size} missing)")
    if (gotV.exists(r => goneVecs.contains(r._2)))
      failLast("ivfpq_probe", "IVF-PQ probe returned a deleted vector")

    rec.passes.find(_("pass") == pass).foreach { p =>
      p("index_bytes") = Seq(lshPath, ivfpqPath).map(Main.dirBytes).sum
      p("index_files") = Seq(lshPath, ivfpqPath)
        .map(d => org.apache.commons.io.FileUtils.listFiles(new java.io.File(d), null, true).size)
        .sum
    }
  }
}

object Incremental {
  val NList = 8
  val M = 4
  val KSub = 16
  val Iters = 2
  // the engine's default retrain threshold; two 20-vector micro-batches and
  // 10 deletes on 400 base vectors stay under it, so maintenance appends
  val MaxDeltaFraction = 0.2
  val Threshold = 0.5
}
