package graftbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, NearDup, Similarity}

/** Seeded corpus: documents with injected exact copies and near-copies
  * (one or two words replaced), and 64-d vectors with injected
  * near-copies (small noise), at known rates. */
final case class CorpusGen(seed: Long, docs: Int = CorpusGen.Docs, vectors: Int = CorpusGen.Vectors) {

  import CorpusGen._

  private def word(g: SplittableRandom): String = "w" + g.nextInt(Vocab)

  def corpus: Corpus = {
    val g = new SplittableRandom(seed)
    val texts = mutable.ArrayBuffer.empty[String]
    val pairs = mutable.Set.empty[(Long, Long)]
    (0 until docs).foreach { i =>
      val u = g.nextDouble()
      if (i > 0 && u < ExactDupRate) texts += texts(g.nextInt(i))
      else if (i > 0 && u < ExactDupRate + NearDupRate) {
        val src = g.nextInt(i)
        val ws = texts(src).split(' ')
        (0 until 1 + g.nextInt(2)).foreach(_ => ws(g.nextInt(ws.length)) = "x" + g.nextInt(Vocab))
        texts += ws.mkString(" ")
        pairs += ((src.toLong, i.toLong))
      } else texts += Seq.fill(40 + g.nextInt(40))(word(g)).mkString(" ")
    }
    Corpus(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toIndexedSeq,
      pairs.toSet, texts.distinct.size)
  }

  private def gaussian(g: SplittableRandom, scale: Double): Array[Float] = {
    val r = new java.util.Random(g.nextLong())
    Array.fill(Dim)((r.nextGaussian() * scale).toFloat)
  }

  def vecs: Vecs = {
    val g = new SplittableRandom(seed + 1)
    val vs = mutable.ArrayBuffer.empty[Array[Float]]
    val dups = mutable.Set.empty[Long]
    (0 until vectors).foreach { i =>
      if (i > 0 && g.nextDouble() < VecDupRate) {
        val noise = gaussian(g, 0.02)
        vs += vs(g.nextInt(i)).zip(noise).map { case (a, b) => a + b }
        dups += i.toLong
      } else vs += gaussian(g, 1.0)
    }
    Vecs(vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toIndexedSeq, dups.toSet)
  }

  /** Query batch `b`: random directions, ids disjoint from the corpus. */
  def queryBatch(b: Int): IndexedSeq[(Long, Array[Float])] = {
    val g = new SplittableRandom(seed * 31 + b)
    (0 until Queries).map(j => ((1L << 40) + b.toLong * Queries + j, gaussian(g, 1.0)))
  }
}

object CorpusGen {
  val Docs = 12000
  val Vectors = 6000
  val ExactDupRate = 0.05
  val NearDupRate = 0.05
  val VecDupRate = 0.05
  val Dim = 64
  val Vocab = 5000
  /** Queries per top-k batch, and the k. */
  val Queries = 32
  val K = 10

  final case class Corpus(rows: IndexedSeq[(Long, String)], nearPairs: Set[(Long, Long)],
      distinctTexts: Int)
  final case class Vecs(rows: IndexedSeq[(Long, Array[Float])], dups: Set[Long])
}

/** `corpus_dedup`: batch dedup transforms (materialized) and top-k
  * query batches over a generated corpus; no commit log involved. */
final class CorpusDedup(ctx: Ctx) extends Workload {
  import CorpusDedup._
  import CorpusGen._

  private val spark = ctx.spark
  private var gen: CorpusGen = _
  private var docs: CorpusGen.Corpus = _
  private var vecs: CorpusGen.Vecs = _
  private var docsDf: DataFrame = _
  private var vecsDf: DataFrame = _
  private var batchNo = 0
  private val dupRecall = mutable.ArrayBuffer.empty[Double]
  private val vecRecall = mutable.ArrayBuffer.empty[Double]
  private val topkRecall = mutable.ArrayBuffer.empty[Double]

  def properties: Seq[(String, Any)] = Seq(
    "docs" -> Docs, "exact_dup_rate" -> ExactDupRate,
    "near_dup_rate" -> NearDupRate, "vectors" -> Vectors,
    "vec_dup_rate" -> VecDupRate, "dim" -> Dim,
    "queries_per_batch" -> Queries, "k" -> K, "key_skew" -> "uniform")

  private val vecSchema = StructType(Seq(StructField("id", LongType),
    StructField("v", ArrayType(FloatType, containsNull = false))))

  private def vecDf(rows: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(rows.map { case (i, v) => Row(i, v.toSeq) }.asJava, vecSchema)

  /** Generate the corpus and write it as parquet, which the ops scan. */
  def setup(dir: String, seed: Long): Unit = {
    gen = CorpusGen(seed)
    docs = gen.corpus
    vecs = gen.vecs
    val s = spark
    import s.implicits._
    docs.rows.toDF("id", "text").write.parquet(s"$dir/docs")
    vecDf(vecs.rows).write.parquet(s"$dir/vecs")
    docsDf = spark.read.parquet(s"$dir/docs")
    vecsDf = spark.read.parquet(s"$dir/vecs")
    batchNo = 0
  }

  /** One full-size cycle: a cycle over a small corpus of the same shape
    * left the first timed cycle 40-60% slower than the fourth. */
  def warm(): Unit = {
    cycle()
    dupRecall.clear(); vecRecall.clear(); topkRecall.clear()
  }

  /** Three transforms, then three query batches (two exact, one IVF). */
  def cycle(): Unit = {
    val n = Docs.toLong
    val ob = Observation()
    ctx.write("operators.exact_dedup", n) {
      Dedup.lastWins(docsDf, Seq("text"), Seq("id")).observe(ob, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
    }
    val kept = ob.get("n").asInstanceOf[Long]
    ctx.check(kept == docs.distinctTexts, s"exact dedup kept $kept, want ${docs.distinctTexts}")

    val pairs = ctx.write("operators.near_dup", n) {
      NearDup.nearDupPairs(docsDf, "id", "text", tau = Tau).collect()
    }.map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1)))).toSet
    dupRecall += docs.nearPairs.count(pairs).toDouble / docs.nearPairs.size

    val sem = ctx.write("operators.semantic_dedup", Vectors.toLong) {
      Similarity.semanticDedup(vecsDf, "id", "v", VecTau).collect()
    }
    val dropped = sem.filterNot(_.getAs[Boolean]("is_kept")).map(_.getAs[Long]("id")).toSet
    vecRecall += vecs.dups.count(dropped).toDouble / vecs.dups.size

    Seq(false, true, false).foreach { ivf =>
      val qs = gen.queryBatch(batchNo)
      batchNo += 1
      val exact = exactTopK(qs)
      if (ivf) {
        val got = ctx.read("operators.ivf_topk", qs.size.toLong) {
          Similarity.ivfTopK(vecDf(qs), vecsDf, "id", "id", "v", K).collect()
        }
        val found = got.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
        val hits = exact.toSeq.map { case (q, ids) => ids.count(c => found((q, c._1))) }.sum
        topkRecall += hits.toDouble / (qs.size * K)
      } else {
        val got = ctx.read("operators.exact_topk", qs.size.toLong) {
          Similarity.bruteForceTopK(vecDf(qs), vecsDf, "id", "id", "v", K).collect()
        }
        val byQ = got.groupBy(_.getAs[Long]("q_id")).map { case (q, rs) =>
          q -> rs.sortBy(_.getAs[Int]("rank")).map(r => (r.getAs[Long]("c_id"), r.getAs[Double]("cosine"))).toSeq
        }
        qs.foreach { case (q, _) =>
          val g = byQ.getOrElse(q, Nil)
          val w = exact(q)
          // equal ids, or equal scores where candidates tie
          val ok = g.size == w.size && g.zip(w).forall { case ((gc, gs), (wc, ws)) =>
            gc == wc || math.abs(gs - ws) < 1e-12 }
          ctx.check(ok, s"exact top-k of query $q: got ${g.map(_._1)} want ${w.map(_._1)}")
        }
      }
    }
  }

  /** Driver-side exact top-k by cosine (ties by candidate id), with the
    * engine's fold order: norms and dot products summed in double in
    * index order. */
  private def exactTopK(qs: Seq[(Long, Array[Float])]): Map[Long, Seq[(Long, Double)]] = {
    def norm(v: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    val cn = vecs.rows.map { case (_, v) => norm(v) }
    qs.map { case (q, qv) =>
      val qn = norm(qv)
      val scored = vecs.rows.indices.map { j =>
        val cv = vecs.rows(j)._2
        var d = 0.0; var i = 0
        while (i < cv.length) { d += qv(i).toDouble * cv(i).toDouble; i += 1 }
        (vecs.rows(j)._1, d / (qn * cn(j)))
      }
      q -> scored.sortBy { case (c, s) => (-s, c) }.take(K)
    }.toMap
  }

  def finish(traced: Boolean): Map[String, Double] = {
    if (!traced) return Map.empty
    Map("dup_recall" -> Stats.median(dupRecall.toSeq),
      "vec_dup_recall" -> Stats.median(vecRecall.toSeq),
      "topk_recall" -> Stats.median(topkRecall.toSeq)) ++ kernels()
  }

  /** Per-kernel cost: a projection over the workload's own columns with
    * the kernel, minus the same projection without it, per unit of
    * input. Inputs are cached first, so the difference is kernel time. */
  private def kernels(): Map[String, Double] = {
    val KernelDocs = 2000
    val Reps = 5
    val text = docsDf.filter(col("id") < KernelDocs)
      .withColumn("words", split(lower(col("text")), " "))
      .withColumn("grams", array_sort(call_function("word_ngrams_3", col("words"))))
    val pairs = text.alias("a").join(text.alias("b"), col("a.id") + 1 === col("b.id"))
      .select(col("a.text"), col("a.words"), col("a.grams"), col("b.grams").as("grams_b"))
      .cache()
    // the vector table repeated, so the kernel's share is well above
    // the timer's noise
    val vs = vecsDf.withColumn("rep", explode(sequence(lit(1), lit(VectorReps))))
      .drop("rep").cache()
    def time(df: DataFrame, c: org.apache.spark.sql.Column): Double = {
      df.select(c).collect()
      Stats.median((1 to Reps).map { _ =>
        val t = System.nanoTime(); df.select(c).collect(); (System.nanoTime() - t).toDouble })
    }
    def perUnit(df: DataFrame, kernel: org.apache.spark.sql.Column,
        base: org.apache.spark.sql.Column, units: org.apache.spark.sql.Column): Double = {
      val u = df.select(sum(units)).collect()(0).getLong(0).toDouble
      math.max(0.0, time(df, kernel) - time(df, base)) / u
    }
    val g = col("grams"); val gb = col("grams_b")
    val out = Map(
      "functions.cosine_sim.ns_per_elem" -> perUnit(vs,
        sum(call_function("cosine_sim", col("v"), col("v"))), sum(size(col("v"))),
        size(col("v")).cast("long")),
      "functions.minhash_md5_8.ns_per_gram" -> perUnit(pairs,
        sum(size(call_function("minhash_md5_8", g))), sum(size(g)), size(g).cast("long")),
      "functions.simhash_md5.ns_per_gram" -> perUnit(pairs,
        max(call_function("simhash_md5", g)), max(size(g)), size(g).cast("long")),
      "functions.word_ngrams_3.ns_per_char" -> perUnit(pairs,
        sum(size(call_function("word_ngrams_3", col("words")))), sum(size(col("words"))),
        length(col("text")).cast("long")),
      "functions.jaccard_sim.ns_per_gram" -> perUnit(pairs,
        sum(call_function("jaccard_sim", g, gb)), sum(size(g) + size(gb)),
        (size(g) + size(gb)).cast("long")))
    pairs.unpersist(); vs.unpersist()
    out
  }
}

object CorpusDedup {
  /** Near-duplicate thresholds: Jaccard of word 3-grams, cosine. */
  val Tau = 0.5
  val VecTau = 0.95
  /** Copies of the vector table the kernel timing runs over. */
  val VectorReps = 16
}
