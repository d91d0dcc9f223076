package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.{CommitLog, Tables}

/** Persisted IVF-PQ index (Similarity.buildIvfPqIndex/searchIvfPqIndex):
  * bit-parity with the on-the-fly pipeline, the inverted-list file
  * seek, and deterministic codebook selection. */
class AnnIndexSpec extends SparkSpecBase {
  import spark.implicits._

  private def emb = Tables(spark, sfDir, "embeddings")

  private def tmpRoot(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/ix"

  test("index search is bit-identical to the on-the-fly ivfPqTopK") {
    val root = tmpRoot("ann-parity")
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", root,
      nlist = 16, m = 8, ksub = 16, dim = 64)
    val q = emb.filter(col("vec_id") < 20)
    val fromIndex = Similarity.searchIvfPqIndex(spark, root, q,
        "vec_id", "embedding", k = 3, nprobe = 4)
      .as[(Long, Int, Long, Double)].collect().sorted.toSeq
    val onTheFly = Similarity.ivfPqTopK(q, emb, "vec_id", "vec_id",
        "embedding", k = 3, nlist = 16, nprobe = 4, m = 8, ksub = 16, dim = 64)
      .as[(Long, Int, Long, Double)].collect().sorted.toSeq
    assert(fromIndex.nonEmpty && fromIndex === onTheFly)
  }

  test("search reads only the probed cells' postings files (inverted-list seek)") {
    val root = tmpRoot("ann-seek")
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", root,
      nlist = 16, m = 8, ksub = 16, dim = 64)
    val allPostings = CommitLog(spark, s"$root/postings").read()
      .inputFiles.length
    // one query, two probes → at most two cells' files in the scan
    val res = Similarity.searchIvfPqIndex(spark, root,
      emb.filter(col("vec_id") === 0L), "vec_id", "embedding",
      k = 3, nprobe = 2)
    val touched = res.inputFiles.count(_.contains("/postings/"))
    assert(touched <= 2 && touched < allPostings)
    assert(res.count() === 3L)
  }

  test("non-default nlist != ksub still selects the lowest-id codebooks") {
    val root = tmpRoot("ann-cb")
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", root,
      nlist = 4, m = 8, ksub = 16, dim = 64)
    val lowest = emb.select($"vec_id").orderBy($"vec_id")
      .limit(16).as[Long].collect().toSeq
    val cb = CommitLog(spark, s"$root/codebook").read()
    assert(cb.filter($"kind" === "coarse").select($"cell")
      .as[Long].collect().sorted.toSeq === lowest.take(4))
    assert(cb.filter($"kind" === "pq").select($"cell")
      .as[Long].collect().sorted.toSeq === lowest)
    // and the search against this index agrees with the on-the-fly
    // pipeline at the same non-default parameters (ADVICE r7: limit
    // without order could diverge here before the re-order fix)
    val q = emb.filter(col("vec_id") < 10)
    val fromIndex = Similarity.searchIvfPqIndex(spark, root, q,
        "vec_id", "embedding", k = 3, nprobe = 2)
      .as[(Long, Int, Long, Double)].collect().sorted.toSeq
    val onTheFly = Similarity.ivfPqTopK(q, emb, "vec_id", "vec_id",
        "embedding", k = 3, nlist = 4, nprobe = 2, m = 8, ksub = 16, dim = 64)
      .as[(Long, Int, Long, Double)].collect().sorted.toSeq
    assert(fromIndex === onTheFly)
  }

  test("incremental append with persisted codebooks equals a one-shot build") {
    val rootInc = tmpRoot("ann-inc")
    val rootOne = tmpRoot("ann-one")
    // build slice holds the lowest ids → its sampled codebooks are the
    // full corpus's, so the two construction orders must agree exactly
    Similarity.buildIvfPqIndex(emb.filter(col("vec_id") < 30),
      "vec_id", "embedding", rootInc, nlist = 16, m = 8, ksub = 16, dim = 64)
    Similarity.appendToIvfPqIndex(spark, rootInc,
      emb.filter(col("vec_id") >= 30), "vec_id", "embedding")
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", rootOne,
      nlist = 16, m = 8, ksub = 16, dim = 64)
    // same postings content (cell assignment + codes per vector)...
    val inc = CommitLog(spark, s"$rootInc/postings").read()
      .select($"c_id", $"cell", $"codes".cast("array<int>"))
      .as[(Long, Long, Seq[Int])].collect().sortBy(_._1).toSeq
    val one = CommitLog(spark, s"$rootOne/postings").read()
      .select($"c_id", $"cell", $"codes".cast("array<int>"))
      .as[(Long, Long, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(inc === one)
    // ...and identical search results
    val q = emb.filter(col("vec_id") < 10)
    def search(root: String) = Similarity.searchIvfPqIndex(spark, root, q,
        "vec_id", "embedding", k = 3, nprobe = 4)
      .as[(Long, Int, Long, Double)].collect().sorted.toSeq
    assert(search(rootInc) === search(rootOne))
  }

  test("delete propagation: post-delete search equals a fresh rebuild on the survivors") {
    val rootDel = tmpRoot("ann-del")
    val rootFresh = tmpRoot("ann-fresh")
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", rootDel,
      nlist = 16, m = 8, ksub = 16, dim = 64)
    // victims: ONE cell's postings, all outside the codebook sample
    // range (vec_id < 16) so a fresh rebuild on the survivors trains
    // the same quantizers — and so every other cell's files must
    // survive the delete untouched (the FIND semi-join's exactness)
    val postings0 = CommitLog(spark, s"$rootDel/postings")
    val victimCell = postings0.read().filter($"c_id" >= 16)
      .groupBy($"cell").count().orderBy(desc("count"), $"cell")
      .select($"cell").as[Long].head()
    val goneIds = postings0.read()
      .filter($"cell" === victimCell && $"c_id" >= 16)
      .select($"c_id").as[Long].collect().toSet
    assert(goneIds.nonEmpty)
    val gone = col("vec_id").isInCollection(goneIds)
    val s0 = postings0.snapshot()
    val otherCellFiles = s0.files.filter(f => s0.entry(f).partTag.get != victimCell.toString).toSet
    Similarity.deleteFromIvfPqIndex(spark, rootDel,
      emb.filter(gone).select($"vec_id"), "vec_id")
    // only the victim cell's files rewrote
    val sAfter = postings0.snapshot()
    assert(otherCellFiles.subsetOf(sAfter.files.toSet),
      "untouched cells' files must survive the delete")
    assert(sAfter.files.forall(sAfter.entry(_).partTag.isDefined), "cell tags survive")
    // no deleted id remains in the postings
    assert(postings0.read()
      .filter($"c_id".isInCollection(goneIds)).count() === 0L)
    Similarity.buildIvfPqIndex(emb.filter(!gone), "vec_id", "embedding",
      rootFresh, nlist = 16, m = 8, ksub = 16, dim = 64)
    val q = emb.filter(col("vec_id") < 20)
    def search(root: String) = Similarity.searchIvfPqIndex(spark, root, q,
        "vec_id", "embedding", k = 3, nprobe = 4)
      .as[(Long, Int, Long, Double)].collect().sorted.toSeq
    val afterDelete = search(rootDel)
    assert(afterDelete.nonEmpty && afterDelete === search(rootFresh))
    // deleting ids the index never held commits nothing
    val v = CommitLog(spark, s"$rootDel/postings").snapshot().version
    assert(Similarity.deleteFromIvfPqIndex(spark, rootDel,
      Seq(999999L).toDF("vec_id"), "vec_id") === v)
  }

  test("trained codebooks: shuffled-slice build + append equals a rebuild replaying the persisted quantizers") {
    val rootInc = tmpRoot("ann-trained-inc")
    val rootOne = tmpRoot("ann-trained-one")
    // the build slice deliberately does NOT hold the lowest ids — the
    // parity claim must no longer lean on the lowest-id assumption
    val slice = emb.filter(col("vec_id") >= 200)
    Similarity.buildIvfPqIndex(slice, "vec_id", "embedding", rootInc,
      nlist = 16, m = 8, ksub = 16, dim = 64,
      codebooks = Similarity.Codebooks.Trained(sampleSize = 256))
    Similarity.appendToIvfPqIndex(spark, rootInc,
      emb.filter(col("vec_id") < 200), "vec_id", "embedding")
    // one-shot rebuild over the FULL corpus replaying the incremental
    // index's persisted quantizers — the independent arbiter
    val (coarse, pq) = Similarity.readIndexCodebooks(spark, rootInc)
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", rootOne,
      nlist = 16, m = 8, ksub = 16, dim = 64,
      codebooks = Similarity.Codebooks.Provided(coarse, pq))
    val inc = CommitLog(spark, s"$rootInc/postings").read()
      .select($"c_id", $"cell", $"codes".cast("array<int>"))
      .as[(Long, Long, Seq[Int])].collect().sortBy(_._1).toSeq
    val one = CommitLog(spark, s"$rootOne/postings").read()
      .select($"c_id", $"cell", $"codes".cast("array<int>"))
      .as[(Long, Long, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(inc.nonEmpty && inc === one)
    val q = emb.filter(col("vec_id") < 10)
    def search(root: String) = Similarity.searchIvfPqIndex(spark, root, q,
        "vec_id", "embedding", k = 3, nprobe = 4)
      .as[(Long, Int, Long, Double)].collect().sorted.toSeq
    assert(search(rootInc) === search(rootOne))
  }

  test("trained codebooks are deterministic and recall does not regress vs the sampled bootstrap") {
    val rootA = tmpRoot("ann-trained-a")
    val rootB = tmpRoot("ann-trained-b")
    val rootS = tmpRoot("ann-sampled")
    val trained = Similarity.Codebooks.Trained(sampleSize = 256)
    // shuffle the input between the two builds: the training sample is
    // hash-keyed, so partitioning/order must not move a codebook bit
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", rootA,
      nlist = 16, m = 8, ksub = 16, dim = 64, codebooks = trained)
    Similarity.buildIvfPqIndex(emb.repartition(7, col("vec_id")),
      "vec_id", "embedding", rootB,
      nlist = 16, m = 8, ksub = 16, dim = 64, codebooks = trained)
    def cbOf(root: String) = CommitLog(spark, s"$root/codebook").read()
      .select($"kind", $"cell", $"v".cast("array<double>"))
      .as[(String, Long, Seq[Double])].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(cbOf(rootA) === cbOf(rootB))
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", rootS,
      nlist = 16, m = 8, ksub = 16, dim = 64)
    val q = emb.filter(col("vec_id") < 50)
    val truth = Similarity.bruteForceTopK(q, emb, "vec_id", "vec_id",
        "embedding", k = 3)
      .select($"q_id", $"c_id").as[(Long, Long)].collect().toSet
    def recall(root: String): Double = {
      val got = Similarity.searchIvfPqIndex(spark, root, q,
          "vec_id", "embedding", k = 3, nprobe = 4)
        .select($"q_id", $"c_id").as[(Long, Long)].collect().toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val (rT, rS) = (recall(rootA), recall(rootS))
    info(s"recall@3 nprobe=4: trained=$rT sampled=$rS")
    // KMeans cells must not LOSE recall vs raw data-point centroids at
    // the same nprobe (on near-random fixtures both are probe- AND
    // PQ-noise-limited — see the pqTopK recall notes — so allow
    // statistical noise but no collapse), and must beat chance within
    // the probed pool (~nprobe/nlist of the corpus → random ≈ 0.02)
    assert(rT >= rS - 0.05, s"trained recall $rT collapsed vs sampled $rS")
    assert(rT > 0.05, s"trained recall $rT not above chance")
  }

  test("distributed Lloyd: bit-identical to the driver loop, repartition-proof at k=4096") {
    // the Trained path switches engines at max(nlist, ksub) >= 256;
    // this pins the switch invisible: same init, same ties, same
    // left-fold accumulation order => identical doubles, not just
    // close ones. Synthetic deterministic sample (no RNG): 6000
    // vectors, dim 8, k = 4096 (the verdict's large-nlist bar).
    val n = 6000
    val dim = 8
    val k = 4096
    val iters = 3
    val md = java.security.MessageDigest.getInstance("MD5")
    val rows = (0 until n).map { i =>
      val h = md.digest(s"s:$i".getBytes("UTF-8")).map(b => f"$b%02x").mkString
      md.reset()
      val v = (0 until dim).map(d => math.sin(i * 31 + d * 7).abs * 10)
      (h, i.toLong, v)
    }
    // driver engine over the (h, id)-ordered sample
    val ordered = rows.sortBy(r => (r._1, r._2)).map(_._3.toArray).toArray
    val driver = graft.operators.Similarity.lloyd(ordered, k, iters)
    // distributed engine over an arbitrarily-partitioned frame
    def dist(parts: Int) = {
      val df = rows.toDF("__h", "__id", "__v")
        .repartition(parts)
        .select(lit(0).as("__p"), col("__h"), col("__id"), col("__v"))
      graft.operators.Similarity.lloydDistributedMulti(df, k, iters)(0)
    }
    val a = dist(3)
    val b = dist(13)
    assert(a.length === k && driver.length === k)
    (0 until k).foreach { j =>
      assert(java.util.Arrays.equals(a(j), driver(j)),
        s"centroid $j differs between distributed and driver engines")
      assert(java.util.Arrays.equals(a(j), b(j)),
        s"centroid $j moved under repartitioning")
    }
    // multi-part form (the PQ subspaces' one-job-per-iteration shape):
    // each part must equal its own independent driver run
    val twoParts = rows.toDF("__h", "__id", "__v")
      .select(explode(array(
        struct(lit(0).as("__p"), col("__h"), col("__id"),
          slice(col("__v"), 1, 4).as("__v")),
        struct(lit(1).as("__p"), col("__h"), col("__id"),
          slice(col("__v"), 5, 4).as("__v")))).as("__s"))
      .select(col("__s.__p").as("__p"), col("__s.__h").as("__h"),
        col("__s.__id").as("__id"), col("__s.__v").as("__v"))
    val multi = graft.operators.Similarity.lloydDistributedMulti(
      twoParts, 300, 2)
    Seq(0 -> ordered.map(_.take(4)), 1 -> ordered.map(_.drop(4)))
      .foreach { case (p, sub) =>
        val d = graft.operators.Similarity.lloyd(sub, 300, 2)
        (0 until 300).foreach(j => assert(
          java.util.Arrays.equals(multi(p)(j), d(j)),
          s"part $p centroid $j differs from the driver run"))
      }
  }

  test("AnnIndexSync: the change-feed stream keeps the index equal to a one-shot rebuild") {
    val baseRoot = tmpRoot("ann-sync-base")
    val ixRoot = tmpRoot("ann-sync-ix")
    val freshRoot = tmpRoot("ann-sync-fresh")
    val ck = Files.createTempDirectory("ann-sync-ck").toString
    val base = CommitLog(spark, baseRoot)
    base.replaceAll(emb.filter(col("vec_id") < 300))
    Similarity.buildIvfPqIndex(CommitLog(spark, baseRoot).read(),
      "vec_id", "embedding", ixRoot, nlist = 16, m = 8, ksub = 16, dim = 64)
    // the build covered the base as of baseV0 — sync follows from there
    val baseV0 = base.snapshot().version
    val q = graft.streaming.AnnIndexSync.start(spark, baseRoot, ixRoot,
      "vec_id", "embedding", ck, startingVersion = baseV0)
    try {
      q.processAllAvailable() // nothing new yet — the build covered v0
      // appends (new ids), an upsert that REWRITES existing rows
      // unchanged (delete+insert pairs in the feed), and a delete
      base.append(emb.filter(col("vec_id") >= 300 && col("vec_id") < 420))
      q.processAllAvailable()
      base.upsert(emb.filter(col("vec_id") >= 100 && col("vec_id") < 140),
        Seq("vec_id"), CommitLog.LastWins)
      base.delete(col("vec_id") % 11 === 3)
      q.processAllAvailable()
      // arbiter: one-shot rebuild over the FINAL base state replaying
      // the synced index's own persisted quantizers
      val (coarse, pq) = Similarity.readIndexCodebooks(spark, ixRoot)
      Similarity.buildIvfPqIndex(base.read(), "vec_id", "embedding",
        freshRoot, nlist = 16, m = 8, ksub = 16, dim = 64,
        codebooks = Similarity.Codebooks.Provided(coarse, pq))
      def postings(root: String) = CommitLog(spark, s"$root/postings").read()
        .select($"c_id", $"cell", $"codes".cast("array<int>"))
        .as[(Long, Long, Seq[Int])].collect().sortBy(_._1).toSeq
      assert(postings(ixRoot).nonEmpty && postings(ixRoot) === postings(freshRoot))
      val qs = emb.filter(col("vec_id") < 10)
      def search(root: String) = Similarity.searchIvfPqIndex(spark, root, qs,
          "vec_id", "embedding", k = 3, nprobe = 4)
        .as[(Long, Int, Long, Double)].collect().sorted.toSeq
      assert(search(ixRoot) === search(freshRoot))
    } finally q.stop()
  }

  test("AnnIndexSync.applyChanges: the postings swap is ONE atomic commit") {
    val baseRoot = tmpRoot("ann-atomic-base")
    val ixRoot = tmpRoot("ann-atomic-ix")
    val base = CommitLog(spark, baseRoot)
    base.replaceAll(emb.filter(col("vec_id") < 200))
    Similarity.buildIvfPqIndex(base.read(), "vec_id", "embedding", ixRoot,
      nlist = 16, m = 8, ksub = 16, dim = 64)
    val postingsLog = CommitLog(spark, s"$ixRoot/postings")
    val v0 = postingsLog.snapshot().version
    // one feed batch carrying rewrites (delete+insert pairs for ids
    // 50..59) AND a pure delete (id 5)
    val bv = base.snapshot().version
    base.upsert(emb.filter(col("vec_id") >= 50 && col("vec_id") < 60),
      Seq("vec_id"), CommitLog.LastWins)
    base.delete(col("vec_id") === 5)
    graft.streaming.AnnIndexSync.applyChanges(spark, ixRoot,
      base.readChanges(bv, base.snapshot().version), "vec_id", "embedding")
    val v1 = postingsLog.snapshot().version
    // r12: one deleteAndAppend commit — not delete then append, whose
    // between state dropped the re-encoded ids from the index
    assert(v1 === v0 + 1, "the per-trigger swap must be exactly one commit")
    (0L to v1).foreach { v =>
      val ids = postingsLog.readVersion(v).select($"c_id")
        .as[Long].collect().toSet
      (50L until 60L).foreach(id => assert(ids.contains(id),
        s"postings version $v is missing rewritten id $id — non-atomic swap"))
    }
    val finalIds = postingsLog.read().select($"c_id").as[Long].collect().toSet
    assert(!finalIds.contains(5L), "deleted id must leave the index")
    assert((50L until 60L).forall(finalIds.contains))
  }

  test("rebuilding commits a new version; the index root stays consistent") {
    val root = tmpRoot("ann-rebuild")
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", root,
      nlist = 16, m = 8, ksub = 16, dim = 64)
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", root,
      nlist = 16, m = 8, ksub = 16, dim = 64)
    assert(CommitLog(spark, s"$root/postings").snapshot().version === 1L)
    val res = Similarity.searchIvfPqIndex(spark, root,
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3, nprobe = 4)
    assert(res.count() === 15L)
  }
}
