package graftbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.scale.{Dedup, Similarity}

/** `dedup_corpus`: salted copies of a seeded document corpus and of an
  * embedding set, built the way `ScaleProbe` scales its tiers (ids shifted
  * per copy, every word tagged with its copy, vectors rotated per copy),
  * with planted exact and near duplicates inside each copy. A pass runs
  * exactDedup (written: the commit sample) → minhashPairs →
  * connectedComponents, then simhashPairs, then ANN top-k queries (the
  * read samples).
  */
object DedupCorpus extends Workload {
  val name = "dedup_corpus"
  val BaseDocs = 400
  val Copies = 3
  val BaseVectors = 600
  val Dim = 32
  /** ANN queries per pass: enough read samples for a tail (see
    * `Stats.tail`). Each pass draws fresh ones: the engine compiles code
    * per query vector, and a repeated vector would find it cached.
    */
  val Queries = 22
  val WarmQueries = 4
  /** A query hits when its top-k holds the vector it was drawn from. */
  val AnnHitFloor = 0.9
  val RecallFloor = 0.9
  private val Stride = 1000000L

  final class S(val docs: String, val embs: String, val out: String,
                val planted: Set[(Long, Long)], val vectors: IndexedSeq[Row],
                val rows: Long, val inputBytes: Long) {
    var pairs: Set[(Long, Long)] = Set.empty
    var simPairs = 0L
    var labels: Seq[(Long, Long)] = Nil
    /** Input bytes of every pass so far: `write_amp`'s base. */
    var submittedBytes = 0L
    val annHits = mutable.ArrayBuffer[Boolean]()
    val ledger = new DirLedger(out)
  }

  val DocSchema: StructType = StructType.fromDDL("doc_id BIGINT, text STRING")
  val EmbSchema: StructType = StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>")

  /** Documents of every copy, plus the planted (a, b) duplicate pairs. */
  def documents(seed: Long, baseDocs: Int = BaseDocs): (IndexedSeq[Row], Set[(Long, Long)]) = {
    val r = Inputs.rng(seed, "dedup-docs")
    val vocab = IndexedSeq.fill(3000)(
      (0 until 3 + r.nextInt(6)).map(_ => ('a' + r.nextInt(26)).toChar).mkString)
    val base = mutable.ArrayBuffer[(Long, IndexedSeq[String])]()
    val planted = mutable.ArrayBuffer[(Long, Long)]()
    var id = 0L
    (0 until baseDocs).foreach { i =>
      val ws = IndexedSeq.fill(40 + r.nextInt(40))(vocab(r.nextInt(vocab.size)))
      base += ((id, ws)); val orig = id; id += 1
      if (i % 10 == 0) { base += ((id, ws)); planted += ((orig, id)); id += 1 }
      else if (i % 10 == 1) {
        base += ((id, ws :+ vocab(r.nextInt(vocab.size)))); planted += ((orig, id)); id += 1
      }
    }
    val rows = (0 until Copies).flatMap { c =>
      base.map { case (i, ws) => Row(i + c * Stride, ws.map(w => s"${w}_c$c").mkString(" ")) }
    }
    val allPlanted = (0 until Copies).flatMap(c =>
      planted.map { case (a, b) => (a + c * Stride, b + c * Stride) }).toSet
    (rows, allPlanted)
  }

  /** Unit vectors of every copy (rotated per copy). */
  def embeddings(seed: Long, baseVectors: Int = BaseVectors): IndexedSeq[Row] = {
    val r = Inputs.rng(seed, "dedup-embeddings")
    val base = IndexedSeq.fill(baseVectors) {
      val v = Array.fill(Dim)(r.nextDouble() * 2 - 1)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat).toIndexedSeq
    }
    (0 until Copies).flatMap { c =>
      base.zipWithIndex.map { case (v, i) =>
        Row(i + c * Stride, v.drop(c) ++ v.take(c)) }
    }
  }

  /** The ANN queries of pass `i`: corpus vectors with a little noise. */
  def queries(seed: Long, i: Int, vectors: IndexedSeq[Row],
              n: Int): IndexedSeq[(Long, Seq[Double])] = {
    val r = Inputs.rng(seed, s"dedup-queries-$i")
    (0 until n).map { _ =>
      val row = vectors(r.nextInt(vectors.size))
      (row.getLong(0), row.getSeq[Float](1).map(_ + (r.nextDouble() - 0.5) * 0.01))
    }
  }

  def prepare(b: Bench, dir: String): S = build(b, dir, BaseDocs, BaseVectors)

  private def build(b: Bench, dir: String, baseDocs: Int, baseVectors: Int): S = {
    val spark = b.spark
    val (docs, planted) = documents(b.seed, baseDocs)
    val embs = embeddings(b.seed, baseVectors)
    val s = new S(s"$dir/documents", s"$dir/embeddings", s"$dir/out", planted, embs,
      docs.size.toLong + embs.size, (docs ++ embs).map(Inputs.rowBytes).sum)
    spark.createDataFrame(spark.sparkContext.parallelize(docs, 4), DocSchema).write.parquet(s.docs)
    spark.createDataFrame(spark.sparkContext.parallelize(embs, 4), EmbSchema).write.parquet(s.embs)
    s
  }

  override def warmUp(b: Bench, s: S, spare: Seq[S]): Unit =
    Bench.concurrently(warmThreads(b, s"${s.out}-warm"))

  /** Plan shapes do not depend on corpus size: the stages warm up on a
    * tenth-size corpus built into `dir`, in parallel threads (connected
    * components on the planted pairs), so the cold start of one does not
    * wait for another's.
    */
  def warmThreads(b: Bench, dir: String): Seq[() => Unit] = {
    val small = build(b, dir, BaseDocs / 10, BaseVectors / 10)
    small.pairs = small.planted
    Seq(
      () => similar(b, small),
      () => components(b, small),
      () => { exact(b, small); simhash(b, small) },
      () => ann(b, small, -1, WarmQueries))
  }

  def pass(b: Bench, s: S, i: Int): PassInfo = {
    stages(b, s, i, Queries)
    PassInfo(s.rows, s.inputBytes)
  }

  /** One run of every stage over the corpus, with `queries` ANN queries. */
  def stages(b: Bench, s: S, i: Int, queries: Int): Unit = {
    exact(b, s)
    similar(b, s)
    components(b, s)
    simhash(b, s)
    ann(b, s, i, queries)
    b.tracer.aside(s.ledger.scan())
    s.submittedBytes += s.inputBytes
  }

  private def exact(b: Bench, s: S): Unit = b.commit("scale.exact") {
    Dedup.exactDedup(b.spark.read.parquet(s.docs), Dedup.contentKey(col("text")), col("doc_id"))
      .write.mode("overwrite").parquet(s"${s.out}/exact")
  }

  private def similar(b: Bench, s: S): Unit = s.pairs = b.call("scale.minhash") {
    Dedup.minhashPairs(b.spark.read.parquet(s.docs), "doc_id", "text", shingleK = 3,
      numHashes = 48, bands = 6, threshold = 0.9).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def components(b: Bench, s: S): Unit = {
    val edges = b.spark.createDataFrame(s.pairs.toSeq).toDF("id_a", "id_b")
    s.labels = b.call("scale.components") {
      Dedup.connectedComponents(edges, "id_a", "id_b",
        checkpointDir = Some(s"${b.scratch}/cc-checkpoints"))
        .select("node", "cluster_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
  }

  private def simhash(b: Bench, s: S): Unit = s.simPairs = b.call("scale.simhash") {
    Dedup.simhashPairs(b.spark.read.parquet(s.docs), "doc_id", "text", maxHamming = 3).count()
  }

  private def ann(b: Bench, s: S, i: Int, n: Int): Unit = {
    val embs = b.spark.read.parquet(s.embs)
    val qs = queries(b.seed, i, s.vectors, n)
    b.tracer.span("scale.ann") {
      qs.foreach { case (id, q) =>
        val top = b.read("scale.ann_query") {
          Similarity.annTopK(embs, "embedding", "vec_id", q, k = 10, dim = Dim,
            numPlanes = 10, maxHammingProbe = 2).select("vec_id").collect().map(_.getLong(0))
        }
        s.annHits += top.contains(id)
      }
    }
  }

  private def crossCopyMerges(s: S): Int =
    s.labels.groupBy(_._2).count { case (_, ns) => ns.map(_._1 / Stride).distinct.size > 1 }

  private def recall(s: S): Double =
    s.planted.count(s.pairs.contains).toDouble / s.planted.size

  def check(b: Bench, s: S): Unit = {
    b.check("dedup_corpus planted-pair recall", recall(s) >= RecallFloor,
      f"recall ${recall(s)}%.3f < $RecallFloor")
    val hits = s.annHits.count(identity).toDouble / s.annHits.size
    b.check("dedup_corpus ANN queries find their own vector", hits >= AnnHitFloor,
      f"hit rate $hits%.3f < $AnnHitFloor")
    b.check("dedup_corpus cross-copy merges == 0", crossCopyMerges(s) == 0,
      s"${crossCopyMerges(s)} clusters span copies")
    val survivors = b.spark.read.parquet(s"${s.out}/exact").count()
    val exactDups = s.planted.size / 2
    b.check("dedup_corpus exact survivors", survivors == BaseDocs * Copies + s.planted.size - exactDups,
      s"$survivors survivors")
  }

  def amplification(b: Bench, s: S): (Double, Double) = {
    val a = Amp.of(s.ledger, s.out, s.submittedBytes)
    (a.write, a.space)
  }

  def layers(b: Bench, s: S, tracedPasses: Int): Map[String, Double] = {
    val t = b.tracer
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val stages = Layers.ScaleStages.flatMap { st =>
      val ss = t.spansNamed(s"scale.$st")
      val shuffle = ss.flatMap(t.jobsIn).map(_.shuffleWriteBytes).sum / ss.size.max(1)
      Seq(s"scale.$st.ms" -> med(ss.map(_.ms)), s"scale.$st.shuffle_mb" -> shuffle / 1048576.0)
    }
    val all = Layers.ScaleStages.flatMap(st => t.spansNamed(s"scale.$st")).flatMap(t.jobsIn)
      .distinctBy(_.id)
    val n = tracedPasses.max(1)
    stages.toMap ++ Layers.jobLabels(t, tracedPasses) ++ Map(
      "scale.task_cpu_ms" -> all.map(_.cpuNs / 1e6).sum / n,
      "scale.spill_mb" -> all.map(_.spillBytes).sum / 1048576.0 / n,
      "scale.pairs" -> (s.pairs.size + s.simPairs).toDouble,
      "scale.recall" -> recall(s),
      "scale.cross_copy_merges" -> crossCopyMerges(s).toDouble)
  }
}
