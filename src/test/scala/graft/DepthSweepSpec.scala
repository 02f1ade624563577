package graft

import graft.ext.{Layout, ManifestSnapshot}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The clustering-depth sweep under every profile and OPTIMIZE
  * selection, checked against a brute-force per-value count: on
  * random manifests with a long, a date and a string key, flat or
  * with two partition leaves, the worst depth per (leaf, key), the
  * deep-file set and the whole-manifest profiles must equal what
  * counting the files that cover every key value gives — over a
  * manifest the snapshot holds (no job) and over one it does not (one
  * job). */
class DepthSweepSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  /** Key values live in [0, Domain]; each key kind maps them
    * order-preservingly, so one integer brute force serves all three. */
  private val Domain = 12

  private def day(v: Int) = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19000L + v))
  /** Increasing in Spark's string order (UTF-8 bytes) across three
    * bands, "v" < "｡" < "😀"; UTF-16 order puts "😀" (a surrogate
    * pair) before "｡", so a sweep sorting by `String.compareTo`
    * misorders the upper bands. */
  private def str(v: Int) = (if (v < 5) "v" else if (v < 9) "｡" else "😀") + f"$v%02d"

  /** One key's interval of one file: None is an all-null key. */
  private val interval: Gen[Option[(Int, Int)]] = for {
    a <- Gen.choose(0, Domain)
    b <- Gen.choose(0, Domain)
    nul <- Gen.choose(0, 9)
  } yield if (nul == 0) None else Some((a min b, a max b))

  /** (leaf, intervals of keys a, b, c) per file, plus maxDepth. */
  private val manifests = for {
    twoLeaves <- Gen.oneOf(false, true)
    n <- Gen.choose(1, 12)
    files <- Gen.listOfN(n,
      Gen.zip(Gen.choose(0, 1), interval, interval, interval))
    maxDepth <- Gen.choose(1L, 4L)
  } yield (files.map { case (l, a, b, c) =>
      (if (twoLeaves) l else -1, Seq(a, b, c)) }, maxDepth)

  private def leafOf(l: Int) = if (l < 0) "file:/graft/t" else s"file:/graft/t/p=$l"

  /** The number of jobs `f` launches. */
  private def jobsOf[A](f: => A): (A, Int) = {
    import org.apache.spark.scheduler._
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val a = try f finally {
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    (a, jobs.get)
  }

  /** The property over manifests loaded through a snapshot cache of
    * `maxBytes`; `sweepJobs` is the job count one sweep may launch. */
  private def check(maxBytes: Long, sweepJobs: Int, seed: Long): Unit = withTempDir("graft_depth_") { tmp =>
    val keys = Seq("a", "b", "c")
    val parentDir = regexp_replace(col("file"), "/[^/]+$", "")
    var round = 0
    val prop = Prop.forAllNoShrink(manifests) { case (files, maxDepth) =>
      val named = files.zipWithIndex.map { case ((l, ivs), i) =>
        (s"${leafOf(l)}/part-$i.parquet", leafOf(l), ivs) }
      def lo(ivs: Seq[Option[(Int, Int)]], k: Int) = ivs(k).map(_._1)
      def hi(ivs: Seq[Option[(Int, Int)]], k: Int) = ivs(k).map(_._2)
      val dir = s"$tmp/m$round"
      round += 1
      named.map { case (f, _, iv) =>
        (f, 1L, lo(iv, 0).map(_.toLong), hi(iv, 0).map(_.toLong),
          lo(iv, 1).map(day), hi(iv, 1).map(day),
          lo(iv, 2).map(str), hi(iv, 2).map(str))
      }.toDF("file", "n_rows", "min_a", "max_a", "min_b", "max_b",
        "min_c", "max_c").coalesce(1).write.parquet(dir)
      val mf = ManifestSnapshot.load(spark, new org.apache.hadoop.fs.Path(dir),
        new ManifestSnapshot.Cache(maxBytes)).frame(spark)
      // brute force: the files of `leaf` (any leaf when None) whose
      // key-k interval covers v
      def covering(leaf: Option[String], k: Int, v: Int) = named.filter {
        case (_, l, iv) => leaf.forall(_ == l) &&
          iv(k).exists { case (a, b) => a <= v && v <= b }
      }.map(_._1)
      val leaves = named.map(_._2).distinct
      val wantWorst = (for {
        leaf <- leaves; k <- keys.indices
        if named.exists { case (_, l, iv) => l == leaf && iv(k).nonEmpty }
      } yield (leaf, keys(k)) ->
        (0 to Domain).map(covering(Some(leaf), k, _).size.toLong).max).toMap
      def wantDeep(ks: Seq[Int]) = (for {
        leaf <- leaves; k <- ks; v <- 0 to Domain
        hits = covering(Some(leaf), k, v) if hits.size >= maxDepth
        f <- hits
      } yield f).toSet
      val (sweep, jobs) = jobsOf(Layout.sweepOf(mf, keys, parentDir))
      val gotWorst = sweep.leafDepthsOf(keys)
        .map { case (l, k, w) => (l, k) -> w }.toMap
      val gotDeep = sweep.deepFilesOf(keys, maxDepth)
      val one = files.length % keys.length
      val gotDeepOne = sweep.deepFilesOf(Seq(keys(one)), maxDepth)
      // whole-manifest profiles: one row per boundary, in order —
      // positions are every interval start and end + 1 (integer keys)
      // or every observed value (string keys); depth is the brute
      // count there, net its step from the row before
      def profile(df: DataFrame) =
        df.collect().toSeq.map(r => (r.get(0), r.getLong(1), r.getLong(2)))
      def wantProfile[A](k: Int, points: Seq[Int], at: Int => A) = {
        val depths = points.map(covering(None, k, _).size.toLong)
        points.indices.map(i =>
          (at(points(i)), depths(i) - (if (i == 0) 0L else depths(i - 1)), depths(i)))
      }
      def ivs(k: Int) = named.flatMap(_._3(k))
      val events = (k: Int) => ivs(k).flatMap { case (a, b) => Seq(a, b + 1) }.distinct.sorted
      val observed = (k: Int) => ivs(k).flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
      val gotA = profile(Layout.clusteringDepth(mf, "a"))
      val gotB = profile(Layout.clusteringDepth(mf, "b"))
      val gotC = profile(Layout.clusteringDepthBoundaries(mf, "c"))
      val wantA = wantProfile(0, events(0), _.toLong)
      val wantB = wantProfile(1, events(1), 19000L + _)
      val wantC = wantProfile(2, observed(2), str)
      val worstC = (0 to Domain).map(covering(None, 2, _).size.toLong).max
      (jobs == sweepJobs) :| s"sweep jobs $jobs != $sweepJobs" &&
        (gotWorst == wantWorst) :| s"worst $gotWorst != $wantWorst" &&
        (gotDeep == wantDeep(keys.indices)) :|
          s"deep $gotDeep != ${wantDeep(keys.indices)}" &&
        (gotDeepOne == wantDeep(Seq(one))) :|
          s"deep(${keys(one)}) $gotDeepOne != ${wantDeep(Seq(one))}" &&
        (gotA == wantA) :| s"profile(a) $gotA != $wantA" &&
        (gotB == wantB) :| s"profile(b) $gotB != $wantB" &&
        (gotC == wantC) :| s"profile(c) $gotC != $wantC" &&
        (Layout.needsRecluster(mf, "c", maxDepth) == (worstC >= maxDepth)) :|
          s"needsRecluster(c, $maxDepth) with worst $worstC"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(12)
      .withWorkers(1).withInitialSeed(Seed(seed)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("depth sweep: worst depth and deep files equal a brute-force per-value count") {
    // held: the sweep's one collect folds into the snapshot's rows
    check(maxBytes = 64L << 20, sweepJobs = 0, seed = 20261019L)
  }

  test("depth sweep over an unheld manifest: the same counts from one job") {
    // a held bound below any manifest's size: the rows stay in parquet
    check(maxBytes = 8L, sweepJobs = 1, seed = 20261021L)
  }
}
