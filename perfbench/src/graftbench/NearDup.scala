package graftbench

import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** The dedup family on a text corpus with planted near-duplicates and one
  * hot boilerplate gram. A pass is the batch dedup of the corpus: the
  * exact n-gram Jaccard face, its duplicate clusters, and MinHash over the
  * standing 90 %. The resume is the incremental face: the newest 10 %
  * matched against the standing 90 % without re-deduping the corpus.
  */
final class NearDup(seed: Long) extends Workload {
  val Spec = Inputs.TextSpec(docs = 1600, plantedPairs = 32, hotPct = 3)
  val NgramThreshold = 0.5
  val MinHash = Dedup.MinHashParams()

  private var corpus: Inputs.TextCorpus = _
  private var docs: DataFrame = _
  private var exact: Array[(Long, Long, Double)] = Array.empty
  private var clusters: Map[Long, Long] = Map.empty
  private var minhash: Array[(Long, Long, Double)] = Array.empty
  private var incremental: Array[(Long, Long, Double)] = Array.empty

  def inputDocs: Long = corpus.rows.length

  def land(ctx: Ctx, dir: String): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    corpus = Inputs.text(seed, Spec)
    corpus.rows.toDF("doc_id", "text").write.parquet(s"$dir/docs")
    Map.empty
  }

  def use(ctx: Ctx, dir: String): Seq[DataFrame] = {
    docs = ctx.spark.read.parquet(s"$dir/docs")
    Seq(docs)
  }

  private def standing: DataFrame = docs.filter(col("doc_id") % 10 =!= 0)
  private def newest: DataFrame = docs.filter(col("doc_id") % 10 === 0)
  private def triples(rows: Array[Row]): Array[(Long, Long, Double)] =
    rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  def pass(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    exact = ctx.call("Dedup.ngramJaccardPairs")(triples(
      Dedup.ngramJaccardPairs(docs, n = 3, threshold = NgramThreshold).collect()))
    val pairs = exact.toSeq.toDF("doc_a", "doc_b", "jaccard")
    clusters = ctx.call("Dedup.duplicateClusters")(
      Dedup.duplicateClusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    minhash = ctx.call("Dedup.minHashDuplicatePairs")(triples(
      Dedup.minHashDuplicatePairs(standing, MinHash).collect()))
  }

  def crash(ctx: Ctx): Unit = ()

  def resume(ctx: Ctx): Unit =
    incremental = ctx.call("Dedup.minHashIncrementalPairs")(triples(
      Dedup.minHashIncrementalPairs(standing, newest, MinHash).collect()))

  def check(ctx: Ctx, stage: String): Check = {
    val text = corpus.rows.toMap
    def jaccard(a: Long, b: Long): Double = {
      val sa = Dedup.shingles(text(a), 3)
      val sb = Dedup.shingles(text(b), 3)
      sa.intersect(sb).size.toDouble / sa.union(sb).size
    }
    def bad(pairs: Array[(Long, Long, Double)], threshold: Double): Int =
      pairs.count { case (a, b, j) =>
        val truth = jaccard(a, b)
        truth < threshold || math.abs(truth - j) > 1e-6
      }
    def unordered(pairs: Array[(Long, Long, Double)]): Set[(Long, Long)] =
      pairs.map { case (a, b, _) => (a min b, a max b) }.toSet
    def isNew(id: Long): Boolean = id % 10 == 0
    val planted = corpus.planted.toSeq
    val exactFound = unordered(exact)
    val missed = planted.count(p => !exactFound(p))
    // batch MinHash sees the pairs with both ends standing, the incremental
    // face those with exactly one end new (new-vs-new is out of its scope);
    // the planted pairs are ~0.9 Jaccard, so LSH misses one with
    // probability about 1e-6
    val batchPlanted = planted.filter { case (a, b) => !isNew(a) && !isNew(b) }
    val crossPlanted = planted.filter { case (a, b) => isNew(a) != isNew(b) }
    val minhashFound = unordered(minhash)
    val minhashMissed = batchPlanted.count(p => !minhashFound(p))
    val checkIncremental = stage == "final"
    val incrementalFound = unordered(incremental)
    val incrementalMissed =
      if (checkIncremental) crossPlanted.count(p => !incrementalFound(p)) else 0
    // clusters: both ends of each exact pair share one, and no cluster
    // merges two planted pairs, so there is one cluster per planted pair
    val split = exact.count { case (a, b, _) => clusters.get(a) != clusters.get(b) }
    val plantedClusters = planted.flatMap(p => clusters.get(p._1))
    val merged = plantedClusters.length - plantedClusters.distinct.length
    val dups = Seq(exact, minhash, incremental).map(p => p.length - p.map(x => (x._1, x._2)).distinct.length).sum
    val wrong = bad(exact, NgramThreshold) + bad(minhash, MinHash.jaccardThreshold) +
      bad(incremental, MinHash.jaccardThreshold)
    val recallChecked = batchPlanted.length + (if (checkIncremental) crossPlanted.length else 0)
    Check(2 * planted.length + recallChecked + exact.length + minhash.length + incremental.length,
      missed + merged + minhashMissed + incrementalMissed + split + dups + wrong,
      Seq(s"near_dup $stage: ${exact.length} exact pairs (${planted.length} planted, " +
        s"$missed missed), ${clusters.values.toSet.size} clusters ($split pairs split, " +
        s"$merged planted pairs merged into another's cluster), " +
        s"${minhash.length} minhash pairs ($minhashMissed of ${batchPlanted.length} standing " +
        s"planted missed), ${incremental.length} incremental pairs" +
        (if (checkIncremental) s" ($incrementalMissed of ${crossPlanted.length} cross planted missed)"
         else "") +
        s", $wrong below threshold or misreported, $dups duplicates"))
  }

  def layers(pass: Seq[(TraceSpan, EngineStats)], resume: Seq[(TraceSpan, EngineStats)])
      : Map[String, Double] = {
    val s = (pass ++ resume).map { case (sp, _) => sp.name -> sp.ms / 1000.0 }.toMap
    Map("dedup.ngram_pairs_s" -> s("Dedup.ngramJaccardPairs"),
      "dedup.clusters_s" -> s("Dedup.duplicateClusters"),
      "dedup.minhash_pairs_s" -> s("Dedup.minHashDuplicatePairs"),
      "dedup.incremental_pairs_s" -> s("Dedup.minHashIncrementalPairs"),
      "dedup.pairs_out" -> (exact.length + minhash.length + incremental.length).toDouble)
  }

  def probes(ctx: Ctx, warmPassS: Double): (Map[String, Double], Check) = CrawlProbe.run(ctx)
}
