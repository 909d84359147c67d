package graft.perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.operators.IvfPq

/** Seeded clustered vectors with exact top-10 ground truth, computed
  * here by brute force, never by the program under test.
  */
object VecGen {
  final case class Data(corpus: Array[Array[Float]], queries: Array[Array[Float]],
                        truth: Array[Array[Int]])

  /** Gaussian clusters whose members vary along a few latent directions
    * per cluster (low intrinsic dimension, as embeddings have).
    */
  def generate(seed: Long, n: Int, q: Int, dim: Int, clusters: Int, k: Int,
               latent: Int = 6): Data = {
    val r = new Random(seed)
    val centers = Array.fill(clusters, dim)(2f * r.nextGaussian().toFloat)
    val bases = Array.fill(clusters, latent, dim)(0.5f * r.nextGaussian().toFloat)
    def point(): Array[Float] = {
      val c = r.nextInt(clusters)
      val z = Array.fill(latent)(r.nextGaussian().toFloat)
      Array.tabulate(dim) { j =>
        var s = centers(c)(j) + 0.05f * r.nextGaussian().toFloat
        var l = 0
        while (l < latent) { s += z(l) * bases(c)(l)(j); l += 1 }
        s
      }
    }
    val corpus = Array.fill(n)(point())
    val queries = Array.fill(q)(point())
    Data(corpus, queries, queries.map(exactTopK(corpus, _, k)))
  }

  /** Ids of the k nearest corpus vectors (squared L2, ties by id). */
  def exactTopK(corpus: Array[Array[Float]], q: Array[Float], k: Int): Array[Int] = {
    // bounded insertion: best(0..k-1) ascending by (distance, id)
    val bestD = Array.fill(k)(Double.MaxValue); val bestI = Array.fill(k)(Int.MaxValue)
    var i = 0
    while (i < corpus.length) {
      val v = corpus(i)
      var s = 0.0; var j = 0
      while (j < v.length) { val t = v(j).toDouble - q(j); s += t * t; j += 1 }
      if (s < bestD(k - 1)) {
        var p = k - 1
        while (p > 0 && bestD(p - 1) > s) { bestD(p) = bestD(p - 1); bestI(p) = bestI(p - 1); p -= 1 }
        bestD(p) = s; bestI(p) = i
      }
      i += 1
    }
    bestI
  }
}

/** ann_serve: IVF-PQ build timed on its own, then one closed-loop client
  * sending single-query requests through IvfPq.search -> IvfPq.rerank.
  */
object AnnWorkload {
  val N = 10000
  val Queries = 200
  val Dim = 32
  val Clusters = 40
  val K = 10
  val NList = 32
  val M = 8
  val Ks = 16
  val Iters = 2
  val NProbe = 4
  val Shortlist = 100
  /** Mean recall@10 a correct index must reach against the exact truth. */
  val RecallFloor = 0.8
  /** Queries per batch request (the report step). */
  val Batch = 16

  val run: Ctx => Outcome = ctx => {
    val spark = ctx.spark
    import spark.implicits._
    var data: VecGen.Data = null
    var corpus: DataFrame = null
    // set-up: vectors, exact ground truth, the corpus relation
    val setupS = Stats.median((0 until 3).map { _ =>
      Bench.timed {
        if (corpus != null) graft.CheckpointBlocks.release(corpus)
        data = VecGen.generate(ctx.opts.seed, N, Queries, Dim, Clusters, K)
        corpus = data.corpus.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toSeq
          .toDF("id", "embedding").repartition(ctx.opts.cores).localCheckpoint(true)
      }._2
    })
    def build(): IvfPq.Index =
      ctx.span("operators", "ivfpq_build")(IvfPq.build(corpus, "id", "embedding", NList, M, Ks, Iters))
    def release(idx: IvfPq.Index): Unit = Seq(idx.coarse, idx.cells, idx.codes)
      .foreach(graft.CheckpointBlocks.release)
    // the build is the load: once per process, cold
    Bench.settle()
    val (index, buildS) = Bench.timed(build())
    Bench.log(f"ann set-up $setupS%.2fs, build $buildS%.2fs")
    ctx.heap.sample()

    def query(i: Int): (Seq[Int], Double) = {
      val qi = i % Queries
      val qdf = Seq((qi.toLong, data.queries(qi).toSeq)).toDF("id", "embedding")
      Bench.timed {
        val short = ctx.span("operators", "ivfpq_search") {
          IvfPq.search(qdf, index, "id", "embedding", M, Dim / M, Shortlist, NProbe)
            .localCheckpoint(true)
        }
        val top = ctx.span("operators", "rerank") {
          IvfPq.rerank(short, qdf, corpus, "id", "embedding", K)
            .orderBy("rank").select("nid").as[Long].collect()
        }
        graft.CheckpointBlocks.release(short)
        top.map(_.toInt).toSeq
      }
    }
    def recall(i: Int, got: Seq[Int]): Double =
      got.toSet.intersect(data.truth(i % Queries).toSet).size.toDouble / K

    val measured = Bench.loopFor(if (ctx.opts.trace) ctx.opts.seconds / 2.0 else ctx.opts.seconds,
      min = 1)(i => { val (got, s) = query(i); (recall(i, got), s) })
    // report step: one batch request of Batch queries through the same calls
    val batchS = (0 until 2).map { b =>
      val ids = (0 until Batch).map(j => (Queries / 2 + b * Batch + j) % Queries)
      val qdf = ids.map(i => (i.toLong, data.queries(i).toSeq)).toDF("id", "embedding")
      val (top, s) = Bench.timed {
        val short = IvfPq.search(qdf, index, "id", "embedding", M, Dim / M, Shortlist, NProbe)
          .localCheckpoint(true)
        val t = IvfPq.rerank(short, qdf, corpus, "id", "embedding", K).select("qid", "nid")
          .as[(Long, Long)].collect()
        graft.CheckpointBlocks.release(short)
        t
      }
      val byQ = top.groupBy(_._1)
      ids.foreach { i =>
        ctx.check(byQ.get(i.toLong).exists(_.length == K), s"ann batch: query $i lacks $K results")
      }
      val rc = ids.map(i => recall(i, byQ.getOrElse(i.toLong, Array.empty).map(_._2.toInt).toSeq)).sum / ids.length
      ctx.check(rc >= RecallFloor, f"ann batch: mean recall@10 $rc%.3f below floor $RecallFloor")
      s
    }
    ctx.heap.sample()
    val lat = measured.map(_._2)
    val meanRecall = measured.map(_._1).sum / measured.length
    ctx.check(meanRecall >= RecallFloor, f"ann: mean recall@10 $meanRecall%.3f below floor $RecallFloor")
    measured.foreach { case (rc, _) => ctx.check(rc > 0, "ann: a query found none of its true neighbours") }

    val (layers, trace) =
      if (!ctx.opts.trace) (Map.empty[String, Double], Map.empty[String, Any])
      else traced(ctx, index, data, () => build(), release, query)
    val named = mutable.LinkedHashMap[String, Any](
      "ann_build_s" -> buildS, "ann_batch16_s_p50" -> Stats.median(batchS),
      "ann_query_s_p50" -> Stats.median(lat), "ann_query_s_tail" -> Bench.tailJson(lat),
      "ann_recall_at_10" -> meanRecall, "queries" -> lat.length,
      "corpus" -> N, "dim" -> Dim, "nlist" -> NList, "nprobe" -> NProbe)
    Outcome(Bench.e2e(ctx, setupS, buildS, lat, batchS, meanRecall),
      named.toMap, layers, trace)
  }

  /** Traced phase: the build is traced once, then each query is an
    * iteration whose calls are search and rerank.
    */
  private def traced(ctx: Ctx, index: IvfPq.Index, data: VecGen.Data,
                     build: () => IvfPq.Index, release: IvfPq.Index => Unit,
                     query: Int => (Seq[Int], Double)): (Map[String, Double], Map[String, Any]) = {
    val spark = ctx.spark
    // ADC rows scored per query: vectors in the nprobe nearest cells x M
    val centroids = index.coarse.select("cell", "cvec").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
    val cellSize = index.cells.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    def adcRows(i: Int): Long = {
      val q = data.queries(i % Queries)
      centroids.map { case (c, v) =>
        (v.indices.map(j => (v(j) - q(j)) * (v(j) - q(j))).sum, c)
      }.sorted.take(NProbe).map(p => cellSize.getOrElse(p._2, 0L)).sum * M
    }
    Seams.reset()
    ctx.tracer.armed = true
    release(ctx.span("bench", "build")(build()))
    // untraced and traced queries alternate, so both see the same warmth
    val pairs = Bench.loopFor(ctx.opts.seconds / 2.0, min = 3) { i =>
      ctx.tracer.armed = false
      val plain = query(i)._2
      ctx.tracer.armed = true
      (plain, Bench.timed(ctx.span("bench", "iteration")(query(i)))._2)
    }
    ctx.tracer.armed = false
    val runs = pairs.map(_._2)
    val spans = ctx.tracer.spans
    val n = runs.length.toDouble
    def spanS(name: String) = spans.filter(_.name == name).map(_.duration).sum / 1e9
    val art = Layers.artifact(ctx, spans, Nil, ctx.tracer.spark.get.snapshot(spark.sparkContext),
      pairs.map(_._1), runs)
    val layers = Map(
      "operators.ivfpq_build_s" -> spanS("ivfpq_build"),
      "operators.ivfpq_search_s" -> spanS("ivfpq_search") / n,
      "operators.rerank_s" -> spanS("rerank") / n,
      "operators.adc_rows_per_query" -> runs.indices.map(i => adcRows(i).toDouble).sum / n)
    (layers ++ art._1, art._2)
  }
}
