package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.LakeTable
import graft.text.{Dedup, HybridSearch, InvertedIndex, IvfIndex, Similarity}

/** A generated corpus with planted near-duplicates and clustered
  * embeddings. Each round rebuilds the dedup results and both indexes
  * (the write side), then serves a fixed batch of single queries through
  * BM25, IVF and hybrid search (the read side).
  *
  * Ground truth planted by the generator:
  *   - `Dups` documents copy another document with its last token replaced, and
  *     carry its embedding plus a little noise: the duplicate pairs;
  *   - embeddings sit around `Topics` centres, so every query's true
  *     neighbours are known once `Similarity.bruteTopK` has ranked them,
  *     which happens outside the timed operations.
  */
final class CorpusSearch(spark: SparkSession, tracer: Tracer, seed: Long)
    extends Workload(spark, tracer, seed) {
  import CorpusSearch._
  import spark.implicits._

  private var root = ""
  private var docs: DataFrame = _
  private var vectors: DataFrame = _
  private var tokens: Array[Array[String]] = _
  private var planted: Set[(Long, Long)] = Set.empty
  private val rnd = new scala.util.Random(seed)
  private val ivfAnswers = mutable.LinkedHashMap.empty[Long, Seq[Long]]
  private var candidates = 0L
  private var verified = 0L

  def lakeRoot: String = root

  def setup(repDir: String): Unit = {
    root = s"$repDir/lake"
    val g = new scala.util.Random(seed)
    val centres = Array.fill(Topics) {
      val c = Array.fill(Dim)(g.nextGaussian()); val n = math.sqrt(c.map(x => x * x).sum); c.map(_ / n)
    }
    val topicWords = Array.fill(Topics)(Array.fill(TopicWords)(s"w${g.nextInt(Vocabulary)}"))
    val base = Array.tabulate(Docs) { i =>
      val t = g.nextInt(Topics)
      val len = 12 + g.nextInt(13)
      val toks = Array.fill(len) {
        if (g.nextBoolean()) topicWords(t)(g.nextInt(TopicWords))
        else s"w${(Vocabulary * math.pow(g.nextDouble(), 2)).toInt}"
      }
      val vec = centres(t).map(_ + g.nextGaussian() * Spread)
      (toks, vec)
    }
    val dupOf = Array.fill(Dups)(g.nextInt(Docs))
    val dups = dupOf.map { b =>
      val (toks, vec) = base(b)
      val copy = toks.clone()
      copy(copy.length - 1) = s"x${g.nextInt(Vocabulary)}"
      (copy, vec.map(_ + g.nextGaussian() * 0.003))
    }
    val all = base ++ dups
    tokens = all.map(_._1)
    planted = dupOf.zipWithIndex.map { case (b, j) => (b.toLong, (Docs + j).toLong) }.toSet
    LakeTable(spark, s"$root/docs").write(
      all.indices.map(i => (i.toLong, all(i)._1.mkString(" "))).toDF("doc_id", "text"))
    LakeTable(spark, s"$root/vectors").write(
      all.indices.map(i => (i.toLong, all(i)._2)).toDF("doc_id", "embedding"))
    docs = LakeTable(spark, s"$root/docs").read
    vectors = LakeTable(spark, s"$root/vectors").read
    rnd.setSeed(seed)
    ivfAnswers.clear()
  }

  private def recall(found: Set[(Long, Long)]): Double =
    planted.count(found).toDouble / planted.size

  def round(): Unit = {
    // ---- build: dedup passes and both indexes ----
    run("write", "minhash") {
      call("text", "minhash")(
        Dedup.minhashBandedPairs(docs, "doc_id", "text", 3, threshold = 0.0, seed = seed.toInt)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    } { pairs =>
      val ok = pairs.filter(_._3 >= Threshold)
      candidates = pairs.length; verified = ok.length
      val r = recall(ok.map(p => (p._1, p._2)).toSet)
      figures("dedup_recall") = r
      expect(r >= RecallFloor, s"minhash found $r of the planted pairs")
    }
    run("write", "ngram_jaccard") {
      call("text", "ngram_jaccard")(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, Threshold, maxShingleDf = Some(MaxShingleDf))
          .collect().map(r => (r.getLong(0), r.getLong(1))))
    } { pairs =>
      val r = recall(pairs.toSet)
      figures("ngram_recall") = r
      expect(r >= RecallFloor, s"n-gram Jaccard found $r of the planted pairs")
    }
    run("write", "semantic_dedup") {
      call("text", "semantic_dedup")(
        Dedup.semanticDedup(vectors, "doc_id", "embedding", nClusters = Topics, eps = 0.97,
          seed = seed)
          .select("id", "component").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    } { comp =>
      val r = planted.count { case (a, b) => comp(a) == comp(b) }.toDouble / planted.size
      figures("semantic_recall") = r
      expect(comp.size == tokens.length && r >= RecallFloor, s"semantic dedup grouped $r of the planted pairs")
    }
    run("write", "bm25_build") {
      call("text", "bm25_build")(InvertedIndex.build(docs, "doc_id", "text", s"$root/bm25"))
    } { _ => None }
    run("write", "ivf_build") {
      call("text", "ivf_build")(
        IvfIndex.build(vectors, "doc_id", "embedding", s"$root/ivf", nCells = Cells, seed = seed))
    } { _ => None }

    // ---- serve: single queries, one client ----
    (0 until QueriesPerRound).foreach { _ =>
      val d = rnd.nextInt(tokens.length)
      val terms = rnd.shuffle(tokens(d).distinct.toSeq).take(3)
      run("read", "bm25") {
        call("text", "bm25_serve")(InvertedIndex.serveBm25(spark, s"$root/bm25",
          terms.map(t => (d.toLong, t)), 10, InvertedIndex.DefaultK1, InvertedIndex.DefaultB).collect())
      } { rows =>
        val scores = rows.sortBy(_.getLong(1)).map(_.getDouble(3)).toSeq
        expect(rows.nonEmpty && rows.length <= 10 && scores == scores.sorted.reverse &&
            rows.exists(_.getLong(2) == d), s"BM25 for doc $d terms $terms: ${rows.length} rows")
      }

      val q = rnd.nextInt(tokens.length).toLong
      run("read", "ivf") {
        call("text", "ivf_serve")(IvfIndex.serveTopK(spark, s"$root/ivf",
          vectors.where(col("doc_id") === q), "doc_id", "embedding", k = 10).collect())
      } { rows =>
        ivfAnswers(q) = rows.map(_.getLong(2)).toSeq
        expect(rows.length == 10, s"IVF for doc $q returned ${rows.length} rows")
      }
    }
    val h = rnd.nextInt(tokens.length).toLong
    run("read", "hybrid") {
      call("text", "hybrid")(
        HybridSearch.hybridTopK(docs, vectors, col("doc_id") === h, n = 20, k = 10).collect())
    } { rows => expect(rows.length == 10, s"hybrid for doc $h returned ${rows.length} rows") }
  }

  override def finish(): Unit = {
    val qs = ivfAnswers.keys.toSeq
    val truth = Similarity.bruteTopK(vectors, vectors.where(col("doc_id").isin(qs: _*)),
      "doc_id", "embedding", 10).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val r = qs.map(q => ivfAnswers(q).count(truth(q)).toDouble / 10).sum / qs.length
    figures("ann_recall_at_10") = r
    check(r >= AnnRecallFloor, s"IVF recall@10 $r below $AnnRecallFloor")
    layerFigures("candidate_pairs") = candidates.toDouble
    layerFigures("pair_precision") = verified.toDouble / math.max(candidates, 1L)
  }
}

object CorpusSearch {
  /** 6,150 vectors: below the 16,384-point cap on the driver-side k-means
    * fit, so `Ivf.fitCentroids` fits on the driver. Above the cap a run of
    * this workload took about 48 s, which the benchmark's time budget does
    * not allow.
    */
  val Docs = 6000
  val Dups = 150
  val Topics = 40
  val TopicWords = 60
  val Vocabulary = 5000
  val Dim = 16
  val Spread = 0.15
  val Cells = 32
  val Threshold = 0.7
  val MaxShingleDf = 50
  val QueriesPerRound = 4
  val RecallFloor = 0.9
  val AnnRecallFloor = 0.8
}
