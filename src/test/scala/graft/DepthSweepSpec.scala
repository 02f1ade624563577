package graft

import graft.ext.Layout
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The clustering-depth sweep under every profile and OPTIMIZE
  * selection, checked against a brute-force per-value count: on
  * random manifests with a long, a date and a string key, flat or
  * with two partition leaves, the worst depth per (leaf, key) and the
  * deep-file set must equal what counting the files that cover every
  * key value gives. */
class DepthSweepSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  /** Key values live in [0, Domain]; each key kind maps them
    * order-preservingly, so one integer brute force serves all three. */
  private val Domain = 12

  private def day(v: Int) = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19000L + v))
  private def str(v: Int) = f"v$v%02d"

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

  test("depth sweep: worst depth and deep files equal a brute-force per-value count") {
    val keys = Seq("a", "b", "c")
    val parentDir = regexp_replace(col("file"), "/[^/]+$", "")
    val prop = Prop.forAllNoShrink(manifests) { case (files, maxDepth) =>
      val named = files.zipWithIndex.map { case ((l, ivs), i) =>
        (s"${leafOf(l)}/part-$i.parquet", leafOf(l), ivs) }
      def lo(ivs: Seq[Option[(Int, Int)]], k: Int) = ivs(k).map(_._1)
      def hi(ivs: Seq[Option[(Int, Int)]], k: Int) = ivs(k).map(_._2)
      val mf = named.map { case (f, _, iv) =>
        (f, 1L, lo(iv, 0).map(_.toLong), hi(iv, 0).map(_.toLong),
          lo(iv, 1).map(day), hi(iv, 1).map(day),
          lo(iv, 2).map(str), hi(iv, 2).map(str))
      }.toDF("file", "n_rows", "min_a", "max_a", "min_b", "max_b",
        "min_c", "max_c")
      // brute force: the files of `leaf` whose key-k interval covers v
      def covering(leaf: String, k: Int, v: Int) = named.filter {
        case (_, l, iv) => l == leaf && iv(k).exists { case (a, b) => a <= v && v <= b }
      }.map(_._1)
      val leaves = named.map(_._2).distinct
      val wantWorst = (for {
        leaf <- leaves; k <- keys.indices
        if named.exists { case (_, l, iv) => l == leaf && iv(k).nonEmpty }
      } yield (leaf, keys(k)) ->
        (0 to Domain).map(covering(leaf, k, _).size.toLong).max).toMap
      def wantDeep(ks: Seq[Int]) = (for {
        leaf <- leaves; k <- ks; v <- 0 to Domain
        hits = covering(leaf, k, v) if hits.size >= maxDepth
        f <- hits
      } yield f).toSet
      val gotWorst = Layout.leafDepthsOf(mf, keys, parentDir)
        .map { case (l, k, w) => (l, k) -> w }.toMap
      val gotDeep = Layout.deepFilesOf(mf, keys, parentDir, maxDepth).toSet
      val one = files.length % keys.length
      val gotDeepOne =
        Layout.deepFilesOf(mf, Seq(keys(one)), parentDir, maxDepth).toSet
      (gotWorst == wantWorst) :| s"worst $gotWorst != $wantWorst" &&
        (gotDeep == wantDeep(keys.indices)) :|
          s"deep $gotDeep != ${wantDeep(keys.indices)}" &&
        (gotDeepOne == wantDeep(Seq(one))) :|
          s"deep(${keys(one)}) $gotDeepOne != ${wantDeep(Seq(one))}"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(12)
      .withWorkers(1).withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }
}
