package graft

import graft.ext.Layout
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Z-order layout: bit-exactness of the interleave and the locality
  * property that makes it worth doing — files clustered by z cover
  * compact rectangles in BOTH key dimensions, so min-max pruning
  * works for filters on either.
  */
class LayoutSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  /** Per-file average (x, y) range as a fraction of each key's global
    * range — the locality metric both clustered-writer specs pin: a
    * curve layout should tile compact rectangles (both fractions well
    * under 1), where a single-column sort leaves one dim at ~1.0. */
  private def rangeFractions2(written: org.apache.spark.sql.DataFrame,
                              src: org.apache.spark.sql.DataFrame,
                              xCol: String, yCol: String): (Double, Double) = {
    val stats = written.withColumn("f", input_file_name())
      .groupBy("f")
      .agg((max(xCol) - min(xCol)).as("xr"), (max(yCol) - min(yCol)).as("yr"))
      .agg(avg("xr"), avg("yr")).as[(Double, Double)].head()
    val (gx, gy) = src.agg(max(xCol) - min(xCol), max(yCol) - min(yCol))
      .as[(Long, Long)].head()
    (stats._1 / gx, stats._2 / gy)
  }

  private def mortonRef(x: Long, y: Long): Long = {
    var z = 0L
    for (i <- 0 until 16) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
    }
    z
  }

  test("zorder2 matches a bit-by-bit Morton reference") {
    val pairs = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (12345L, 54321L), (40000L, 70000L)) // >16-bit inputs: low bits only
    val want = pairs.map { case (x, y) => mortonRef(x & 0xFFFF, y & 0xFFFF) }
    // the k-ary interleave at k = 2 is the code every two-key ZOrder
    // write clusters on, so it must equal zorder2 bit for bit
    for ((name, code) <- Seq(
        "zorder2" -> Layout.zorder2(col("x"), col("y")),
        "zorderN" -> Layout.zorderN(Seq(col("x"), col("y"))))) {
      val got = pairs.toDF("x", "y").select(code).as[Long].collect()
      assert(got.toSeq == want, s"$name: got ${got.toSeq} want $want")
    }
  }

  test("write refuses a bad key count or file count before the path exists") {
    withTempDir("graft_write_refuse_") { dir =>
      val df = spark.range(10).select(col("id").as("x"), col("id").as("y"))
      val out = s"$dir/t"
      val refused = Seq[(String, () => Unit)](
        "Hilbert over 1 key" -> (() =>
          Layout.write(df, out, Seq(col("x")), 2, Layout.Curve.Hilbert)),
        "Hilbert over 3 keys" -> (() =>
          Layout.write(df, out, Seq(col("x"), col("y"), col("x") + 1), 2,
            Layout.Curve.Hilbert)),
        "ZOrder over 1 key" -> (() =>
          Layout.write(df, out, Seq(col("x")), 2)),
        "ZOrder over 9 keys" -> (() =>
          Layout.write(df, out, Seq.fill(9)(col("x")), 2)),
        "files = 0" -> (() =>
          Layout.write(df, out, Seq(col("x"), col("y")), 0)),
        "files = -1 with a manifest" -> (() =>
          Layout.write(df, out, Seq(col("x"), col("y")), -1,
            manifestKeys = Seq("x", "y"))))
      for ((what, call) <- refused) {
        intercept[IllegalArgumentException](call())
        assert(!new java.io.File(out).exists, s"$what: wrote $out, then refused")
      }
    }
  }

  test("writeZOrdered: per-file ranges are compact in BOTH dimensions") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_partkey", "l_suppkey")
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder_").toString
    try {
      Layout.write(li, dir,
        Seq(col("l_partkey"), col("l_suppkey")), files = 16)
      val back = spark.read.parquet(dir)
      assert(back.count() == li.count())
      // per-file bounding boxes: with a z-layout each of the 16 files
      // should span a small fraction of each key's global range —
      // 16 files ≈ a 4x4 grid over the normalized square, so both
      // fractions should sit near 1/4
      val (fx, fy) = rangeFractions2(back, li, "l_partkey", "l_suppkey")
      assert(fx < 0.6 && fy < 0.6,
        f"per-file range fractions x=$fx%.2f y=$fy%.2f — no locality")
      assert(fx + fy < 1.0,
        f"combined $fx%.2f + $fy%.2f not better than single-dim sort")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("compact rewrites small files toward the byte target and preserves rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_spec_").toString
    try {
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      docs.repartition(16).write.mode("overwrite").parquet(s"$dir/small")
      val fs = new java.io.File(s"$dir/small")
      val smallBytes = fs.listFiles.filter(f => f.isFile && !f.getName.startsWith("_"))
        .map(_.length).sum
      // target = half the total → expect exactly 2 output files
      val (nIn, nOut) = Layout.compact(spark, s"$dir/small", s"$dir/big",
        targetBytes = smallBytes / 2 + 1)
      assert(nIn === 16)
      assert(nOut === 2, s"expected ceil(total/target)=2 files, got $nOut")
      val back = spark.read.parquet(s"$dir/big")
      assert(back.count() === docs.count())
      // content identical: same doc_id multiset
      assert(back.agg(sum("doc_id")).head.getLong(0) ===
        docs.agg(sum("doc_id")).head.getLong(0))
      intercept[IllegalArgumentException] {
        Layout.compact(spark, s"$dir/big", s"$dir/big")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("scanPruned: equals the full-scan filter while reading strictly fewer files") {
    withTempDir("graft_pruned_") { dir =>
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice")
      Layout.write(li, s"$dir/li",
        Seq(col("l_partkey"), col("l_suppkey")), files = 16,
        manifestKeys = Seq("l_partkey", "l_suppkey"))
      val mf = Layout.loadManifest(spark, s"$dir/li")
      // one manifest row per data file, each with both key intervals
      val files = spark.read.parquet(s"$dir/li").inputFiles
      assert(mf.count() === files.length.toLong)
      val boxes = Seq(Layout.KeyBox("l_partkey", 20L, 60L),
        Layout.KeyBox("l_suppkey", 2L, 5L))
      val pruned = Layout.scanPruned(spark, s"$dir/li", boxes)
      // the point of the manifest: the pruned plan opens strictly
      // fewer files than the full scan (z-locality guarantees some
      // file's rectangle misses this narrow box)
      assert(pruned.inputFiles.length < files.length,
        s"pruned read opened all ${files.length} files — no skipping")
      // and exactness: pruned read ≡ full scan + filter
      val full = spark.read.parquet(s"$dir/li")
        .filter(col("l_partkey").between(20, 60) && col("l_suppkey").between(2, 5))
      val key = (r: org.apache.spark.sql.Row) =>
        (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(pruned.count() > 0, "degenerate spec: box selected nothing")
      assert(pruned.collect().map(key).sorted.toSeq ===
        full.collect().map(key).sorted.toSeq)
      // the residual must reach the surviving files' parquet scan —
      // otherwise survivors are fully decoded and filtered in Spark
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [") &&
        !plan.matches("(?s).*PushedFilters: \\[\\].*"),
        s"residual box not pushed to the pruned scan:\n$plan")
    }
  }

  test("writeZOrderedWithManifest: stored stats serve a cold reader; data read unchanged") {
    withTempDir("graft_pruned_durable_") { dir =>
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_suppkey")
      Layout.writeZOrderedWithManifest(li, col("l_partkey"), col("l_suppkey"),
        s"$dir/li", files = 16, keyCols = Seq("l_partkey", "l_suppkey"))
      // the _graft_manifest subdir is invisible to plain data reads
      // (underscore convention) — row count and schema unchanged
      val back = spark.read.parquet(s"$dir/li")
      assert(back.count() === li.count())
      assert(back.columns.toSeq === li.columns.toSeq)
      // cold-reader path: prune straight off the stored manifest
      val boxes = Seq(Layout.KeyBox("l_partkey", 20L, 60L),
        Layout.KeyBox("l_suppkey", 2L, 5L))
      val pruned = Layout.scanPruned(spark, s"$dir/li", boxes)
      assert(pruned.inputFiles.length < back.inputFiles.length,
        "stored manifest pruned nothing")
      val full = back.filter(
        col("l_partkey").between(20, 60) && col("l_suppkey").between(2, 5))
      val key = (r: org.apache.spark.sql.Row) =>
        (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(pruned.collect().map(key).sorted.toSeq ===
        full.collect().map(key).sorted.toSeq)
    }
  }

  test("appendWithManifest: delta-only stats patch keeps pruning exact after ingest") {
    withTempDir("graft_pruned_append_") { dir =>
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_suppkey")
      val (histBase, tail) = (li.filter(col("l_orderkey") % 10 =!= 0),
        li.filter(col("l_orderkey") % 10 === 0))
      Layout.write(histBase, s"$dir/li",
        Seq(col("l_partkey"), col("l_suppkey")), files = 8,
        manifestKeys = Seq("l_partkey", "l_suppkey"))
      val filesBefore = spark.read.parquet(s"$dir/li").inputFiles.length
      Layout.appendWithManifest(tail.repartition(2), s"$dir/li",
        Seq("l_partkey", "l_suppkey"))
      val back = spark.read.parquet(s"$dir/li")
      assert(back.count() === li.count(), "append lost rows")
      // the manifest covers every data file, old and new
      val mf = Layout.loadManifest(spark, s"$dir/li")
      assert(mf.count() === back.inputFiles.length.toLong)
      assert(back.inputFiles.length > filesBefore)
      // pruning stays EXACT: appended (unclustered) files always
      // survive, z-files still skip, residual restores equality
      val boxes = Seq(Layout.KeyBox("l_partkey", 20L, 60L),
        Layout.KeyBox("l_suppkey", 2L, 5L))
      val pruned = Layout.scanPruned(spark, s"$dir/li", boxes)
      assert(pruned.inputFiles.length < back.inputFiles.length)
      val full = back.filter(
        col("l_partkey").between(20, 60) && col("l_suppkey").between(2, 5))
      val key = (r: org.apache.spark.sql.Row) =>
        (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(pruned.collect().map(key).sorted.toSeq ===
        full.collect().map(key).sorted.toSeq)
    }
  }

  test("needsRecluster: appends degrade depth until the trigger fires; rewrite resets it") {
    withTempDir("graft_recluster_") { dir =>
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_suppkey")
      val keyCols = Seq("l_partkey", "l_suppkey")
      Layout.write(li, s"$dir/li",
        Seq(col("l_partkey"), col("l_suppkey")), files = 8,
        manifestKeys = keyCols)
      def depth() = Layout.clusteringDepth(
        Layout.loadManifest(spark, s"$dir/li"), "l_partkey")
        .agg(max("depth")).head().getLong(0)
      val base = depth()
      assert(!Layout.needsRecluster(Layout.loadManifest(spark, s"$dir/li"),
        "l_partkey", maxDepth = base + 3))
      // each appended (unclustered) single file spans the WHOLE key
      // range, so every point lookup must read it too: depth grows by
      // exactly 1 per appended file, at every key position
      for (_ <- 1 to 3)
        Layout.appendWithManifest(li.coalesce(1), s"$dir/li", keyCols)
      val degraded = depth()
      assert(degraded >= base + 3, s"depth $base -> $degraded after 3 appends")
      assert(Layout.needsRecluster(Layout.loadManifest(spark, s"$dir/li"),
        "l_partkey", maxDepth = base + 3), "trigger should fire")
      // OPTIMIZE: rewrite everything z-clustered; depth returns to a
      // clustered profile and the trigger clears
      val all = spark.read.parquet(s"$dir/li").localCheckpoint(true)
      Layout.write(all, s"$dir/li2",
        Seq(col("l_partkey"), col("l_suppkey")), files = 8,
        manifestKeys = keyCols)
      val after = Layout.clusteringDepth(
        Layout.loadManifest(spark, s"$dir/li2"), "l_partkey")
        .agg(max("depth")).head().getLong(0)
      assert(after <= base + 1, s"rewrite did not re-tighten: $after vs base $base")
      assert(!Layout.needsRecluster(Layout.loadManifest(spark, s"$dir/li2"),
        "l_partkey", maxDepth = base + 3))
    }
  }

  test("scanPruned: z-locality prunes >= 87.5% of a 64-file grid for a 1/64 box") {
    import spark.implicits._
    withTempDir("graft_pruned_grid_") { dir =>
      // full 256x256 integer grid — the uniform worst case where
      // locality comes ONLY from the layout, not data skew
      val grid = (0 until 65536)
        .map(i => (i.toLong, (i % 256).toLong, (i / 256).toLong))
        .toDF("id", "x", "y")
      Layout.write(grid, s"$dir/g",
        Seq(col("x"), col("y")), files = 64,
        manifestKeys = Seq("x", "y"))
      val total = spark.read.parquet(s"$dir/g").inputFiles.length
      // a 32x32 box = 1/64 of the area; a perfect 8x8 z-tiling reads
      // 1-4 files, a single-column sort ~8, a random layout all 64 —
      // the bound pins the layout actually paying off
      val pruned = Layout.scanPruned(spark, s"$dir/g",
        Seq(Layout.KeyBox("x", 0L, 31L), Layout.KeyBox("y", 0L, 31L)))
      assert(pruned.inputFiles.length * 8 <= total,
        s"read ${pruned.inputFiles.length} of $total files — z-locality lost")
      assert(pruned.count() === 32L * 32L)
    }
  }

  test("scanPruned detects out-of-band appends; failed appends leave the dir untouched") {
    withTempDir("graft_pruned_oob_") { dir =>
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .select("l_partkey", "l_suppkey")
      Layout.write(li, s"$dir/li",
        Seq(col("l_partkey"), col("l_suppkey")), files = 4,
        manifestKeys = Seq("l_partkey", "l_suppkey"))
      val boxes = Seq(Layout.KeyBox("l_partkey", 20L, 60L))
      // a failed appendWithManifest (bad key) must validate BEFORE
      // writing: otherwise the dir gains files the manifest misses
      val before = spark.read.parquet(s"$dir/li").count()
      intercept[IllegalArgumentException] {
        Layout.appendWithManifest(
          li.withColumn("l_partkey", col("l_partkey").cast("string")),
          s"$dir/li", Seq("l_partkey"))
      }
      assert(spark.read.parquet(s"$dir/li").count() === before,
        "failed append mutated the directory")
      assert(Layout.scanPruned(spark, s"$dir/li", boxes).count() ===
        li.filter(col("l_partkey").between(20, 60)).count())
      // an OUT-OF-BAND append (any writer that is not
      // appendWithManifest) leaves files without stats; the pruned
      // read must fail loudly, not silently drop their rows
      li.limit(100).coalesce(1).write.mode("append").parquet(s"$dir/li")
      val ex = intercept[IllegalArgumentException] {
        Layout.scanPruned(spark, s"$dir/li", boxes).count()
      }
      assert(ex.getMessage.contains("does not cover"))
    }
  }

  test("manifest lifecycle edges: empty input scans clean; bad paths/keys fail fast") {
    withTempDir("graft_pruned_edges_") { dir =>
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .select("l_partkey", "l_suppkey")
      // empty-input write leaves a zero-row part file with no stats
      // row; the coverage check must tolerate it (zero rows cannot
      // be dropped) and the pruned read must return empty, not throw
      Layout.write(li.filter(lit(false)), s"$dir/empty",
        Seq(col("l_partkey"), col("l_suppkey")), files = 4,
        manifestKeys = Seq("l_partkey", "l_suppkey"))
      val pruned = Layout.scanPruned(spark, s"$dir/empty",
        Seq(Layout.KeyBox("l_partkey", 0L, 100L)))
      assert(pruned.count() === 0L)
      // a path that URI-encodes would corrupt file-name tracking —
      // rejected at the entrance, before anything is written
      intercept[IllegalArgumentException] {
        Layout.write(li, s"$dir/has space/li",
          Seq(col("l_partkey"), col("l_suppkey")), files = 4,
          manifestKeys = Seq("l_partkey"))
      }
      // duplicate key columns would build an ambiguous manifest
      intercept[IllegalArgumentException] {
        Layout.buildFileManifest(spark, s"$dir/empty",
          Seq("l_partkey", "l_partkey"))
      }
    }
  }

  test("buildFileManifest rejects unsupported key types loudly") {
    // a float/double key's NaN ordering forks between engines, so its
    // stats are refused up front — the misuse must fail fast, not
    // produce a manifest that silently skips or keeps the wrong files
    val ex = intercept[IllegalArgumentException] {
      Layout.buildFileManifest(spark, s"$sf0001/lineitem.parquet",
        Seq("l_quantity"))
    }
    assert(ex.getMessage.contains("must be integral, date, timestamp, or string"))
  }

  test("scanPruned: empty survivor set returns an empty, schema-correct frame") {
    withTempDir("graft_pruned_none_") { dir =>
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .select("l_partkey", "l_suppkey")
      Layout.write(li, s"$dir/li",
        Seq(col("l_partkey"), col("l_suppkey")), files = 4,
        manifestKeys = Seq("l_partkey", "l_suppkey"))
      // box entirely outside the key domain: every file skips
      val pruned = Layout.scanPruned(spark, s"$dir/li",
        Seq(Layout.KeyBox("l_partkey", 1000000L, 2000000L)))
      assert(pruned.count() === 0L)
      assert(pruned.columns.toSeq === Seq("l_partkey", "l_suppkey"))
    }
  }

  test("typed manifest keys: a string-keyed manifest prunes and stays exact") {
    withTempDir("graft_pruned_str_") { dir =>
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
        .select("doc_id", "lang")
      docs.repartitionByRange(8, col("lang")).sortWithinPartitions("lang")
        .write.mode("overwrite").parquet(s"$dir/docs")
      Layout.buildFileManifest(spark, s"$dir/docs", Seq("lang"))
        .write.mode("overwrite").parquet(s"$dir/docs/_graft_manifest")
      val pruned = Layout.scanPruned(spark, s"$dir/docs",
        Seq(Layout.TypedKeyBox("lang", "de", "es")))
      val all = spark.read.parquet(s"$dir/docs")
      // lexicographic stats actually skip the fr/zh files
      assert(pruned.inputFiles.length < all.inputFiles.length,
        "string manifest pruned nothing")
      val full = all.filter(col("lang").between("de", "es"))
      assert(pruned.count() > 0, "degenerate spec: box selected nothing")
      assert(pruned.collect().map(_.getLong(0)).sorted.toSeq ===
        full.collect().map(_.getLong(0)).sorted.toSeq)
    }
  }

  test("typed manifest keys: date and timestamp boxes prune and stay exact") {
    withTempDir("graft_pruned_time_") { dir =>
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .select(col("l_orderkey"), col("l_shipdate"),
          to_date(col("l_shipdate")).as("l_shipd"))
      li.repartitionByRange(8, col("l_shipd")).sortWithinPartitions("l_shipd")
        .write.mode("overwrite").parquet(s"$dir/li")
      Layout.buildFileManifest(spark, s"$dir/li",
          Seq("l_shipd", "l_shipdate", "l_orderkey"))
        .write.mode("overwrite").parquet(s"$dir/li/_graft_manifest")
      val all = spark.read.parquet(s"$dir/li")
      // date box: one year out of ~7 → most time-sorted files skip
      val byDate = Layout.scanPruned(spark, s"$dir/li",
        Seq(Layout.TypedKeyBox("l_shipd", "1996-01-01", "1996-12-31")))
      assert(byDate.inputFiles.length < all.inputFiles.length,
        "date manifest pruned nothing")
      val wantDate = all.filter(
        col("l_shipd").between(lit("1996-01-01").cast("date"),
          lit("1996-12-31").cast("date")))
      assert(byDate.count() > 0 && byDate.count() === wantDate.count())
      // timestamp box on the raw (NTZ) key
      val byTs = Layout.scanPruned(spark, s"$dir/li",
        Seq(Layout.TypedKeyBox("l_shipdate",
          "1997-01-01 00:00:00", "1997-06-30 23:59:59.999999")))
      assert(byTs.inputFiles.length < all.inputFiles.length,
        "timestamp manifest pruned nothing")
      val wantTs = all.filter(col("l_shipdate") >=
        lit("1997-01-01 00:00:00").cast(all.schema("l_shipdate").dataType) &&
        col("l_shipdate") <=
        lit("1997-06-30 23:59:59.999999").cast(all.schema("l_shipdate").dataType))
      assert(byTs.count() > 0 && byTs.count() === wantTs.count())
      // depth profile works in the temporal domain (epoch days)
      val depth = Layout.clusteringDepth(
        Layout.loadManifest(spark, s"$dir/li"), "l_shipd")
        .agg(max("depth")).head().getLong(0)
      assert(depth >= 1L)
      // a box form that mismatches the stored stat type is loud, both
      // ways — long bounds against date stats would compare as null
      // and silently skip every file
      val e1 = intercept[IllegalArgumentException] {
        Layout.scanPruned(spark, s"$dir/li",
          Seq(Layout.KeyBox("l_shipd", 0L, 100L)))
      }
      assert(e1.getMessage.contains("use TypedKeyBox"))
      val e2 = intercept[IllegalArgumentException] {
        Layout.scanPruned(spark, s"$dir/li",
          Seq(Layout.TypedKeyBox("l_orderkey", "0", "100")))
      }
      assert(e2.getMessage.contains("use KeyBox"))
    }
  }

  test("zorderN: 3-key interleave matches a bit-by-bit reference") {
    def morton3(x: Long, y: Long, z: Long): Long = {
      var m = 0L
      for (i <- 0 until 16) {
        m |= ((x >> i) & 1L) << (3 * i)
        m |= ((y >> i) & 1L) << (3 * i + 1)
        m |= ((z >> i) & 1L) << (3 * i + 2)
      }
      m
    }
    val triples = Seq((0L, 0L, 0L), (1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L),
      (65535L, 65535L, 65535L), (12345L, 54321L, 4242L), (70000L, 3L, 9L))
    val got = triples.toDF("x", "y", "z")
      .select(Layout.zorderN(Seq(col("x"), col("y"), col("z"))))
      .as[Long].collect()
    val want = triples.map { case (x, y, z) =>
      morton3(x & 0xFFFF, y & 0xFFFF, z & 0xFFFF) }
    assert(got.toSeq == want, s"got ${got.toSeq} want $want")
    // k=2 degenerates to the classic Morton layout zorder2 produces
    val pairs = Seq((12345L, 54321L), (7L, 11L))
    val z2 = pairs.toDF("x", "y")
      .select(Layout.zorderN(Seq(col("x"), col("y"))),
        Layout.zorder2(col("x"), col("y")))
      .as[(Long, Long)].collect()
    z2.foreach { case (n, two) => assert(n === two) }
  }

  test("writeZOrderedNWithManifest: a box on the THIRD key alone prunes files") {
    withTempDir("graft_z3_") { dir =>
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_suppkey")
      Layout.write(li, s"$dir/li",
        Seq(col("l_partkey"), col("l_suppkey"), col("l_orderkey")),
        files = 32, manifestKeys = Seq("l_partkey", "l_suppkey", "l_orderkey"))
      val all = spark.read.parquet(s"$dir/li")
      assert(all.count() === li.count())
      // the 2-D layout's blind spot: filter ONLY on the third key
      val pruned = Layout.scanPruned(spark, s"$dir/li",
        Seq(Layout.KeyBox("l_orderkey", 100L, 180L)))
      assert(pruned.inputFiles.length < all.inputFiles.length,
        s"3-D z-layout pruned nothing on the third key " +
          s"(${pruned.inputFiles.length} of ${all.inputFiles.length} files)")
      val full = all.filter(col("l_orderkey").between(100, 180))
      assert(pruned.count() > 0 && pruned.count() === full.count())
      // locality holds on ALL THREE dims: each file's per-key range
      // is a fraction of the global range (a 1-D sort would leave two
      // dims at ~1.0)
      val stats = all.withColumn("f", input_file_name())
        .groupBy("f")
        .agg((max("l_partkey") - min("l_partkey")).as("xr"),
          (max("l_suppkey") - min("l_suppkey")).as("yr"),
          (max("l_orderkey") - min("l_orderkey")).as("zr"))
        .agg(avg("xr"), avg("yr"), avg("zr"))
        .as[(Double, Double, Double)].head()
      val (gx, gy, gz) = li.agg(
        max("l_partkey") - min("l_partkey"),
        max("l_suppkey") - min("l_suppkey"),
        max("l_orderkey") - min("l_orderkey")).as[(Long, Long, Long)].head()
      val fr = Seq(stats._1 / gx, stats._2 / gy, stats._3 / gz)
      assert(fr.forall(_ < 0.8), f"per-file fractions ${fr.map(f => f"$f%.2f")}")
      assert(fr.sum < 2.0, s"combined ${fr.sum} — no better than a 1-D sort")
    }
  }

  test("compact rebuilds the skipping manifest over its output") {
    withTempDir("graft_compact_mf_") { dir =>
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_suppkey")
      Layout.write(li, s"$dir/in",
        Seq(col("l_partkey"), col("l_suppkey")), files = 16,
        manifestKeys = Seq("l_partkey", "l_suppkey"))
      val (nIn, nOut) = Layout.compact(spark, s"$dir/in", s"$dir/out",
        targetBytes = Long.MaxValue)
      assert(nIn === 16 && nOut === 1)
      // the output carries a REBUILT manifest (the input's names its
      // own files, so it cannot move over) and pruned reads off it
      // stay exact — the compacted layout no longer clusters, so the
      // single wide file always survives; exactness is the contract
      val boxes = Seq(Layout.KeyBox("l_partkey", 20L, 60L))
      val pruned = Layout.scanPruned(spark, s"$dir/out", boxes)
      assert(pruned.count() ===
        li.filter(col("l_partkey").between(20, 60)).count())
      val mf = Layout.loadManifest(spark, s"$dir/out")
      assert(mf.count() === 1L)
      assert(mf.columns.toSet ===
        Set("file", "n_rows", "min_l_partkey", "max_l_partkey",
          "nulls_l_partkey", "min_l_suppkey", "max_l_suppkey",
          "nulls_l_suppkey"))
    }
  }

  test("scanPruned on a hive-partitioned dataset keeps partition columns, prunes whole partitions") {
    withTempDir("graft_pruned_hive_") { dir =>
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_returnflag")
      li.write.partitionBy("l_returnflag").mode("overwrite").parquet(s"$dir/li")
      // manifest keyed on the PARTITION column plus a data column:
      // per-file stats of a partition column collapse to its single
      // value, so the manifest subsumes hive partition pruning and
      // adds real range stats on top
      Layout.buildFileManifest(spark, s"$dir/li",
          Seq("l_returnflag", "l_partkey"))
        .write.mode("overwrite").parquet(s"$dir/li/_graft_manifest")
      val all = spark.read.parquet(s"$dir/li")
      val pruned = Layout.scanPruned(spark, s"$dir/li",
        Seq(Layout.TypedKeyBox("l_returnflag", "A", "A"),
          Layout.KeyBox("l_partkey", 20L, 60L)))
      // basePath anchoring: the k=v path column survives the
      // survivor-file read instead of silently vanishing
      assert(pruned.columns.toSet ===
        Set("l_orderkey", "l_partkey", "l_returnflag"))
      assert(pruned.inputFiles.length < all.inputFiles.length,
        "partition-column stats pruned nothing")
      val full = all.filter(col("l_returnflag") === "A" &&
        col("l_partkey").between(20, 60))
      assert(pruned.count() > 0, "degenerate spec: box selected nothing")
      assert(pruned.select("l_orderkey").as[Long].collect().sorted.toSeq ===
        full.select("l_orderkey").as[Long].collect().sorted.toSeq)
    }
  }

  test("compactPartitioned walks a two-level hive layout and preserves rows") {
    withTempDir("graft_compact_part_") { dir =>
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_returnflag", "l_linestatus")
      li.repartition(6) // 6 small files per leaf partition
        .write.partitionBy("l_returnflag", "l_linestatus")
        .mode("overwrite").parquet(s"$dir/in")
      val leaves = spark.read.parquet(s"$dir/in")
        .select("l_returnflag", "l_linestatus").distinct().count()
      val (nIn, nOut) = Layout.compactPartitioned(spark, s"$dir/in", s"$dir/out",
        targetBytes = Long.MaxValue)
      assert(nOut === leaves.toInt,
        s"expected one compacted file per leaf ($leaves), got $nOut")
      assert(nIn > nOut, s"input had $nIn files — nothing to compact?")
      val back = spark.read.parquet(s"$dir/out")
      // partition discovery over the mirrored k=v dirs reconstructs
      // the partition columns; row multiset is preserved
      assert(back.columns.toSet === li.columns.toSet)
      assert(back.count() === li.count())
      assert(back.agg(sum("l_orderkey")).head.getLong(0) ===
        li.agg(sum("l_orderkey")).head.getLong(0))
      assert(back.groupBy("l_returnflag").count().collect().toSet ===
        li.groupBy("l_returnflag").count().collect().toSet)
      // in-place rewrite refused, same as compact — and so is an
      // output NESTED in the input tree (the walk would re-discover
      // freshly written output as a partition and re-compact it) or
      // an input nested in the output
      intercept[IllegalArgumentException] {
        Layout.compactPartitioned(spark, s"$dir/in", s"$dir/in")
      }
      intercept[IllegalArgumentException] {
        Layout.compactPartitioned(spark, s"$dir/in", s"$dir/in/l_returnflag=R/out")
      }
      intercept[IllegalArgumentException] {
        Layout.compactPartitioned(spark, s"$dir/in", dir)
      }
      // a root-level manifest rides through: rebuild it over the
      // input, compact again to a fresh output, and the output's
      // rebuilt stats still serve an exact pruned read
      Layout.buildFileManifest(spark, s"$dir/in", Seq("l_partkey"))
        .write.mode("overwrite").parquet(s"$dir/in/_graft_manifest")
      Layout.compactPartitioned(spark, s"$dir/in", s"$dir/out2",
        targetBytes = Long.MaxValue)
      val pruned = Layout.scanPruned(spark, s"$dir/out2",
        Seq(Layout.KeyBox("l_partkey", 20L, 60L)))
      assert(pruned.count() ===
        li.filter(col("l_partkey").between(20, 60)).count())
    }
  }

  test("appendWithManifest rejects an incompatible non-key schema before writing") {
    withTempDir("graft_append_schema_") { dir =>
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_suppkey")
      Layout.write(li, s"$dir/li",
        Seq(col("l_partkey"), col("l_suppkey")), files = 4,
        manifestKeys = Seq("l_partkey", "l_suppkey"))
      val before = spark.read.parquet(s"$dir/li").count()
      // retyped NON-key column: stats would still build, but plain
      // reads of the mixed directory would go schema-inconsistent —
      // must be refused before any file lands
      val ex = intercept[IllegalArgumentException] {
        Layout.appendWithManifest(
          li.withColumn("l_orderkey", col("l_orderkey").cast("string")),
          s"$dir/li", Seq("l_partkey", "l_suppkey"))
      }
      assert(ex.getMessage.contains("not compatible"))
      // extra column, same story
      intercept[IllegalArgumentException] {
        Layout.appendWithManifest(li.withColumn("extra", lit(1)),
          s"$dir/li", Seq("l_partkey", "l_suppkey"))
      }
      assert(spark.read.parquet(s"$dir/li").count() === before,
        "rejected append mutated the directory")
    }
  }

  test("hilbert2: matches an independent d2xy inverse and walks in unit steps") {
    // independent reference: the standard d2xy (curve distance →
    // coordinates) walk — NOT the xy2d mirror the expression uses —
    // so agreement is a round-trip through two different algorithms
    def d2xy(d0: Long): (Long, Long) = {
      var (x, y, t) = (0L, 0L, d0)
      var s = 1L
      while (s < 65536L) {
        val rx = 1L & (t / 2)
        val ry = 1L & (t ^ rx)
        if (ry == 0L) {
          if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
          val tmp = x; x = y; y = tmp
        }
        x += s * rx; y += s * ry
        t /= 4
        s *= 2
      }
      (x, y)
    }
    val ds = Seq(0L, 1L, 2L, 3L, 4L, 1000L, 65535L, 123456789L,
      (1L << 32) - 1L, 999999999L)
    val points = ds.map(d2xy)
    // Spark-side xy2d over those coordinates must invert d2xy exactly
    val got = points.toDF("x", "y")
      .select(Layout.hilbert2(col("x"), col("y"))).as[Long].collect()
    assert(got.toSeq === ds, s"xy2d does not invert d2xy: ${got.toSeq} vs $ds")
    // the defining Hilbert property (what Morton lacks): consecutive
    // curve positions are GRID NEIGHBORS — one coordinate changes by
    // exactly 1. Sampled across seams where z-order teleports.
    for (d <- Seq(0L, 3L, 15L, 255L, 65535L, 1048575L, 123456788L)) {
      val (x1, y1) = d2xy(d); val (x2, y2) = d2xy(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1L,
        s"curve jumps between d=$d ($x1,$y1) and d+1 ($x2,$y2)")
    }
    // codegen and interpreted paths agree — driven through PARQUET,
    // not a LocalRelation (ConvertToLocalRelation would evaluate the
    // expression interpreted at optimization time and never compile
    // the hand-written doGenCode loop), with >16-bit inputs so the
    // GENERATED mask is exercised too, and fallback off so a broken
    // loop fails instead of silently interpreting
    withTempDir("graft_hilbert_cg_") { dir =>
      val wide = points ++ Seq((70000L, 3L), (40000L, 70000L), (65536L, 0L))
      wide.toDF("x", "y").write.mode("overwrite").parquet(s"$dir/pts")
      val prevFallback = spark.conf.get("spark.sql.codegen.fallback", "true")
      spark.conf.set("spark.sql.codegen.fallback", "false")
      try {
        val frame = spark.read.parquet(s"$dir/pts")
          .select(col("x"), col("y"),
            Layout.hilbert2(col("x"), col("y")).as("h"))
        // the expression must sit INSIDE a whole-stage codegen stage
        val plan = frame.queryExecution.executedPlan.toString
        assert(plan.contains("*(1) Project [") &&
          plan.toLowerCase.contains("hilbertindex2"), plan)
        for (r <- frame.collect())
          assert(r.getLong(2) ===
            graft.functions.HilbertIndex2.xy2d(r.getLong(0), r.getLong(1)),
            s"codegen diverged from the mirror at (${r.getLong(0)}, ${r.getLong(1)})")
      } finally spark.conf.set("spark.sql.codegen.fallback", prevFallback)
    }
  }

  test("writeHilbertWithManifest: locality in both dims; pruned read stays exact") {
    withTempDir("graft_hilbert_") { dir =>
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_suppkey")
      Layout.write(li, s"$dir/li",
        Seq(col("l_partkey"), col("l_suppkey")), files = 16,
        Layout.Curve.Hilbert, manifestKeys = Seq("l_partkey", "l_suppkey"))
      val back = spark.read.parquet(s"$dir/li")
      assert(back.count() === li.count())
      // per-file bounding boxes compact in BOTH dimensions — the same
      // bound the Z-order spec pins, met by the jump-free curve too
      val (fx, fy) = rangeFractions2(back, li, "l_partkey", "l_suppkey")
      assert(fx < 0.6 && fy < 0.6,
        f"per-file range fractions x=$fx%.2f y=$fy%.2f — no locality")
      // the curve-agnostic read path: prune off the stored manifest,
      // equality with the full-scan filter
      val pruned = Layout.scanPruned(spark, s"$dir/li",
        Seq(Layout.KeyBox("l_partkey", 20L, 60L),
          Layout.KeyBox("l_suppkey", 2L, 5L)))
      assert(pruned.inputFiles.length < back.inputFiles.length,
        "hilbert manifest pruned nothing")
      val full = back.filter(
        col("l_partkey").between(20, 60) && col("l_suppkey").between(2, 5))
      val key = (r: org.apache.spark.sql.Row) =>
        (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(pruned.count() > 0)
      assert(pruned.collect().map(key).sorted.toSeq ===
        full.collect().map(key).sorted.toSeq)
    }
  }

  test("deleteWhere: covered files drop unopened, partials rewrite, null keys survive") {
    withTempDir("graft_delete_") { dir =>
      val d = s"$dir/t"
      def part(rows: Seq[(Option[Long], Long)]): Unit =
        rows.toDF("k", "v").repartition(1).write.mode("append").parquet(d)
      // four single-part files with hand-picked key ranges, one per
      // classification the manifest must make for box [0, 150]:
      part((0L to 99L).map(k => (Some(k), k)))     // A: covered → DROP
      part((120L to 200L).map(k => (Some(k), k)))  // B: straddles → rewrite
      part((300L to 400L).map(k => (Some(k), k)))  // C: disjoint → untouched
      part((10L to 50L).map(k => (Some(k), k)) ++  // D: range-covered but
        Seq((None, 9001L), (None, 9002L)))         //    has nulls → rewrite
      Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      val before = spark.read.parquet(d).inputFiles.toSet
      assert(before.size === 4)
      val mf0 = Layout.loadManifest(spark, d).collect()
        .map(r => r.getAs[Long]("min_k") -> r.getAs[String]("file")).toMap
      val (fileA, fileC) = (mf0(0L), mf0(300L))

      val st = Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("k", 0L, 150L)))
      // A drops off its stats alone; B and D rewrite; C is untouched
      assert(st.filesDropped === 1, st.toString)
      assert(st.filesRewritten === 2, st.toString)
      // 100 (all of A) + 31 (B's 120..150) + 41 (D's 10..50)
      assert(st.rowsDeleted === 172L, st.toString)
      val after = spark.read.parquet(d)
      val afterFiles = after.inputFiles.toSet
      assert(!afterFiles.contains(fileA), "covered file not dropped")
      assert(afterFiles.contains(fileC), "disjoint file was churned")
      // survivors: B's 151..200, all of C, D's two null-key rows —
      // SQL DELETE's three-valued semantics (unknown ≠ true)
      assert(after.count() === 50L + 101L + 2L)
      assert(after.filter(col("k").isNull).count() === 2L,
        "null-key rows did not survive the value-predicate delete")
      assert(after.filter(col("k").between(0, 150)).count() === 0L)
      // the patched manifest still serves exact pruned reads and
      // passes its own coverage check over the rewritten files
      val pruned = Layout.scanPruned(spark, d,
        Seq(Layout.KeyBox("k", 160L, 320L)))
      assert(pruned.select("v").as[Long].collect().sorted.toSeq ===
        after.filter(col("k").between(160, 320))
          .select("v").as[Long].collect().sorted.toSeq)
      // nothing to delete → pure no-op, zero stats
      assert(Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("k", 0L, 150L)))
        === Layout.DeleteStats(0, 0, 0L))
    }
  }

  test("replaceWhere: idempotent backfill in ONE generation, strict containment, constraints") {
    withTempDir("graft_replace_") { dir =>
      val d = s"$dir/t"
      (0L to 99L).map(k => (k, k)).toDF("k", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k")
        .write.parquet(d)
      Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      Layout.enableGenerations(spark, d)
      // backfill band [20, 39] with corrected rows — delete + insert
      // as ONE committed generation
      val fresh = (20L to 39L).map(k => (k, k * 10)).toDF("k", "v")
      val st = Layout.replaceWhere(spark, d, fresh,
        Seq(Layout.KeyBox("k", 20L, 39L)))
      assert(st.rowsDeleted === 20L, st.toString)
      assert(st.rowsInserted === 20L, st.toString)
      assert(st.filesInserted >= 1, st.toString)
      assert(Layout.currentGeneration(spark, d) === 1L,
        "replaceWhere must commit ONE generation, not a delete + append pair")
      val out = spark.read.parquet(d)
      assert(out.count() === 100L)
      assert(out.where(col("k").between(20, 39) &&
        col("v") =!= col("k") * 10).count() === 0L)
      assert(out.where(!col("k").between(20, 39) &&
        col("v") =!= col("k")).count() === 0L)
      // the patched manifest serves exact pruned reads over the
      // replaced band (delta stats cover the inserted files)
      assert(Layout.scanPruned(spark, d,
        Seq(Layout.KeyBox("k", 25L, 30L))).count() === 6L)
      // re-running the same backfill is idempotent on CONTENT (the
      // point of the verb): one more generation, same rows
      val st2 = Layout.replaceWhere(spark, d, fresh,
        Seq(Layout.KeyBox("k", 20L, 39L)))
      assert(st2.rowsInserted === 20L)
      assert(Layout.currentGeneration(spark, d) === 2L)
      assert(spark.read.parquet(d).count() === 100L)
      // time travel still serves the pre-backfill state
      assert(Layout.readSnapshot(spark, d, 0L)
        .where(col("v") === col("k")).count() === 100L)
      // STRICT containment: a row outside the replaced region refuses
      // before anything lands
      val leak = Seq((500L, 1L)).toDF("k", "v")
      val e = intercept[IllegalArgumentException] {
        Layout.replaceWhere(spark, d, leak,
          Seq(Layout.KeyBox("k", 20L, 39L)))
      }
      assert(e.getMessage.contains("OUTSIDE"))
      assert(Layout.currentGeneration(spark, d) === 2L,
        "a refused replace must not commit")
      // CHECK constraints prove over the incoming batch
      Layout.addCheckConstraint(spark, d, "v_nonneg", "v >= 0")
      val bad = Seq((21L, -5L)).toDF("k", "v")
      val c = intercept[IllegalArgumentException] {
        Layout.replaceWhere(spark, d, bad,
          Seq(Layout.KeyBox("k", 20L, 39L)))
      }
      assert(c.getMessage.contains("v_nonneg"))
      // write-schema compatibility is exact — a retyped column refuses
      val retyped = Seq((21, 1)).toDF("k", "v") // int, not long
      intercept[IllegalArgumentException] {
        Layout.replaceWhere(spark, d, retyped,
          Seq(Layout.KeyBox("k", 20L, 39L)))
      }
    }
  }

  test("deleteWhere on a hive-partitioned layout: data-column and partition-column deletes") {
    withTempDir("graft_delete_part_") { dir =>
      val d = s"$dir/t"
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_returnflag")
      li.write.partitionBy("l_returnflag").mode("overwrite").parquet(d)
      Layout.buildFileManifest(spark, d, Seq("l_returnflag", "l_partkey"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      val total = li.count()
      // data-column delete ACROSS partitions — the GDPR shape on a
      // date-partitioned fact table: survivors are rewritten inside
      // their own partition directories (basePath read + partitionBy
      // write + mirror-move), partition columns survive
      val st = Layout.deleteWhere(spark, d,
        Seq(Layout.KeyBox("l_partkey", 20L, 60L)))
      val expectDel = li.filter(col("l_partkey").between(20, 60)).count()
      assert(st.rowsDeleted === expectDel, st.toString)
      assert(st.filesRewritten > 0, st.toString)
      val back = spark.read.parquet(d)
      assert(back.columns.toSet ===
        Set("l_orderkey", "l_partkey", "l_returnflag"),
        "partition column lost in the rewrite")
      assert(back.count() === total - expectDel)
      assert(back.filter(col("l_partkey").between(20, 60)).count() === 0L)
      // the patched manifest still serves partition-aware pruned reads
      val pruned = Layout.scanPruned(spark, d,
        Seq(Layout.TypedKeyBox("l_returnflag", "A", "A")))
      assert(pruned.count() ===
        back.filter(col("l_returnflag") === "A").count())
      // partition-column delete: per-file stats of a partition column
      // collapse to a single value, so every file in the partition is
      // PROVED covered — whole partitions drop unopened, zero rewrites
      val aFiles = spark.read.parquet(s"$d/l_returnflag=A").inputFiles.length
      val st2 = Layout.deleteWhere(spark, d,
        Seq(Layout.TypedKeyBox("l_returnflag", "A", "A")))
      assert(st2.filesRewritten === 0, st2.toString)
      assert(st2.filesDropped === aFiles, st2.toString)
      val back2 = spark.read.parquet(d)
      assert(back2.filter(col("l_returnflag") === "A").count() === 0L)
      assert(back2.count() === total - expectDel - st2.rowsDeleted)
    }
  }

  test("appendWithManifest on a hive-partitioned layout routes rows into partitions") {
    withTempDir("graft_append_part_") { dir =>
      val d = s"$dir/t"
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_returnflag")
      val (oldHalf, newHalf) =
        (li.filter(col("l_orderkey") % 2 === 0), li.filter(col("l_orderkey") % 2 === 1))
      oldHalf.write.partitionBy("l_returnflag").mode("overwrite").parquet(d)
      Layout.buildFileManifest(spark, d, Seq("l_returnflag", "l_partkey"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      Layout.appendWithManifest(newHalf, d, Seq("l_returnflag", "l_partkey"))
      val back = spark.read.parquet(d)
      assert(back.count() === li.count())
      // no mixed layout: every data file sits INSIDE a k=v subdir
      val fs = new org.apache.hadoop.fs.Path(d)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.listStatus(new org.apache.hadoop.fs.Path(d)).exists(st =>
        st.isFile && !st.getPath.getName.startsWith("_")),
        "append landed data files at the partitioned root")
      // the patched manifest covers the new files WITH partition
      // stats: a partition-column pruned read stays exact and a
      // manifest-proved partition delete still drops files unopened
      val pruned = Layout.scanPruned(spark, d,
        Seq(Layout.TypedKeyBox("l_returnflag", "A", "A")))
      assert(pruned.count() === li.filter(col("l_returnflag") === "A").count())
      val st = Layout.deleteWhere(spark, d,
        Seq(Layout.TypedKeyBox("l_returnflag", "A", "A")))
      assert(st.filesRewritten === 0 && st.filesDropped > 0, st.toString)
      assert(spark.read.parquet(d)
        .filter(col("l_returnflag") === "A").count() === 0L)
    }
  }

  test("upsertByKey: disjoint files untouched, matches replace, new keys insert, null keys survive") {
    withTempDir("graft_upsert_") { dir =>
      val d = s"$dir/t"
      def part(rows: Seq[(Option[Long], Long)]): Unit =
        rows.toDF("k", "v").repartition(1).write.mode("append").parquet(d)
      part((0L to 99L).map(k => (Some(k), k)))           // A: holds update keys
      part((300L to 400L).map(k => (Some(k), k)))        // B: disjoint → untouched
      part(Seq((Some(150L), 150L), (None, 9001L)))       // C: match + a null key
      Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      val mf0 = Layout.loadManifest(spark, d).collect()
        .map(r => r.getAs[Long]("min_k") -> r.getAs[String]("file")).toMap
      val fileB = mf0(300L)
      // replace k ∈ {10, 20, 150}, insert k = 500 — a sparse CDC
      // batch whose KeySetBox must leave the [300,400] file alone
      // even though 500 sits past it and 10 before it
      val upd = Seq((10L, 10000L), (20L, 20000L), (150L, 150000L),
        (500L, 500000L)).toDF("k", "v")
      val st = Layout.upsertByKey(spark, d, upd, "k")
      assert(st.filesRewritten === 2, st.toString)
      assert(st.filesUntouched === 1, st.toString)
      assert(st.rowsReplaced === 3L, st.toString)
      assert(st.rowsUpserted === 4L, st.toString)
      val after = spark.read.parquet(d)
      assert(after.inputFiles.toSet.contains(fileB),
        "disjoint file was churned by the upsert")
      val afterCount = after.count()
      assert(afterCount === (100L + 101L + 2L) - 3L + 4L)
      // matched keys carry exactly the NEW row; the null-key base row
      // survives (a value merge key can never reach it)
      def vOf(k: Long) = after.filter(col("k") === k)
        .select("v").as[Long].collect().toSeq
      assert(vOf(10L) === Seq(10000L))
      assert(vOf(150L) === Seq(150000L))
      assert(vOf(500L) === Seq(500000L))
      assert(vOf(11L) === Seq(11L), "an unmatched base row changed")
      assert(after.filter(col("k").isNull).count() === 1L)
      // the patched manifest serves exact pruned reads over old AND
      // newly inserted keys, and passes its own coverage check
      val pruned = Layout.scanPruned(spark, d,
        Seq(Layout.KeyBox("k", 400L, 600L)))
      assert(pruned.select("k").as[Long].collect().sorted.toSeq ===
        Seq(400L, 500L))
      // delete-and-insert is IDEMPOTENT: the same batch re-applied
      // replaces its own rows and changes nothing
      val st2 = Layout.upsertByKey(spark, d, upd, "k")
      assert(st2.rowsReplaced === 4L, st2.toString)
      // (compare against the saved count — `after`'s file listing is
      // stale once st2 deleted the files it superseded)
      assert(spark.read.parquet(d).count() === afterCount)
      // loud contracts: duplicate update keys, null update keys
      val dup = intercept[IllegalArgumentException] {
        Layout.upsertByKey(spark, d,
          Seq((10L, 1L), (10L, 2L)).toDF("k", "v"), "k")
      }
      assert(dup.getMessage.contains("duplicate"))
      val nul = intercept[IllegalArgumentException] {
        Layout.upsertByKey(spark, d,
          Seq((Option.empty[Long], 1L)).toDF("k", "v"), "k")
      }
      assert(nul.getMessage.contains("null"))
      // an incompatible updates schema is rejected BEFORE any mutation
      intercept[IllegalArgumentException] {
        Layout.upsertByKey(spark, d, Seq((1L, "x")).toDF("k", "v"), "k")
      }
      assert(spark.read.parquet(d).count() === afterCount,
        "a rejected upsert mutated the directory")
      // empty updates → pure no-op
      val st3 = Layout.upsertByKey(spark, d, upd.limit(0), "k")
      assert(st3.filesRewritten === 0 && st3.rowsReplaced === 0L &&
        st3.rowsUpserted === 0L, st3.toString)
    }
  }

  test("upsertByKey on a hive-partitioned layout: partition-moving updates land in their new partition") {
    withTempDir("graft_upsert_part_") { dir =>
      val d = s"$dir/t"
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
        .select("doc_id", "lang", "n_chars")
      docs.write.partitionBy("lang").mode("overwrite").parquet(d)
      Layout.buildFileManifest(spark, d, Seq("doc_id"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      val total = docs.count()
      // ten rows MOVE to a brand-new lang partition (a changed
      // partition value — the hard CDC case), five are pure inserts
      val upd = docs.filter(col("doc_id") < 10)
        .withColumn("lang", lit("zz"))
        .withColumn("n_chars", col("n_chars") + 1)
        .unionByName(docs.filter(col("doc_id").between(10, 14))
          .withColumn("doc_id", col("doc_id") + 10000)
          .withColumn("lang", lit("zz")))
      val st = Layout.upsertByKey(spark, d, upd, "doc_id")
      assert(st.rowsReplaced === 10L, st.toString)
      assert(st.rowsUpserted === 15L, st.toString)
      val back = spark.read.parquet(d)
      assert(back.columns.toSet === Set("doc_id", "lang", "n_chars"),
        "partition column lost in the upsert")
      assert(back.count() === total + 5L)
      assert(back.filter(col("lang") === "zz").count() === 15L)
      assert(back.filter(col("doc_id") < 10 && col("lang") =!= "zz")
        .count() === 0L, "moved rows linger in their old partition")
      // no mixed layout: every data file sits INSIDE a k=v subdir
      val fs = new org.apache.hadoop.fs.Path(d)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.listStatus(new org.apache.hadoop.fs.Path(d)).exists(s0 =>
        s0.isFile && !s0.getPath.getName.startsWith("_")),
        "upsert landed data files at the partitioned root")
      // the patched manifest prunes exactly over the inserted keys
      val pruned = Layout.scanPruned(spark, d,
        Seq(Layout.KeyBox("doc_id", 10000L, 10014L)))
      assert(pruned.count() === 5L)
      assert(pruned.select("lang").distinct().as[String].collect()
        .toSeq === Seq("zz"))
    }
  }

  test("upsertByKeys: composite key merges on tuple equality — partial-key overlap inserts, never replaces") {
    withTempDir("graft_upsert2_") { dir =>
      val d = s"$dir/t"
      def part(rows: Seq[(Long, String, Long)]): Unit =
        rows.toDF("id", "region", "v").repartition(1)
          .write.mode("append").parquet(d)
      part(Seq((1L, "eu", 10L), (1L, "us", 11L), (2L, "eu", 20L)))
      part(Seq((50L, "eu", 500L), (51L, "us", 510L))) // disjoint ids
      Layout.buildFileManifest(spark, d, Seq("id", "region"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      val before = spark.read.parquet(d).inputFiles.toSet
      // (1,eu) replaces; (2,us) shares id=2 with the live (2,eu) but
      // differs on region — the PARTIAL overlap a single-key merge
      // would corrupt by deleting (2,eu); (9,apac) is a pure insert
      val upd = Seq((1L, "eu", 1000L), (2L, "us", 2000L),
        (9L, "apac", 9000L)).toDF("id", "region", "v")
      val st = Layout.upsertByKeys(spark, d, upd, Seq("id", "region"))
      assert(st.rowsReplaced === 1L, st.toString)
      assert(st.rowsUpserted === 3L, st.toString)
      // the [50,51] file is disjoint from the id footprint {1,2,9}:
      // the per-key box conjunction leaves it unopened even though
      // its region range overlaps the batch's
      assert(st.filesUntouched === 1, st.toString)
      assert(st.filesRewritten === 1, st.toString)
      val after = spark.read.parquet(d)
      def vOf(id: Long, r: String) = after
        .filter(col("id") === id && col("region") === r)
        .select("v").as[Long].collect().toSeq
      assert(vOf(1L, "eu") === Seq(1000L), "full-tuple match not replaced")
      assert(vOf(1L, "us") === Seq(11L), "partial-key sibling churned")
      assert(vOf(2L, "eu") === Seq(20L),
        "partial-key overlap DELETED the base row — single-key corruption")
      assert(vOf(2L, "us") === Seq(2000L), "partial-overlap update not inserted")
      assert(vOf(9L, "apac") === Seq(9000L))
      assert(after.count() === 5L - 1L + 3L)
      assert(after.inputFiles.toSet.intersect(before).nonEmpty,
        "the disjoint file did not keep its exact name")
      // contracts generalize column-wise: a null in ANY key component
      // and duplicate TUPLES are refused; reusing one key VALUE across
      // distinct tuples is legal
      val nul = intercept[IllegalArgumentException] {
        Layout.upsertByKeys(spark, d,
          Seq((Option.empty[Long], "eu", 1L)).toDF("id", "region", "v"),
          Seq("id", "region"))
      }
      assert(nul.getMessage.contains("null"))
      val dup = intercept[IllegalArgumentException] {
        Layout.upsertByKeys(spark, d,
          Seq((1L, "eu", 1L), (1L, "eu", 2L)).toDF("id", "region", "v"),
          Seq("id", "region"))
      }
      assert(dup.getMessage.contains("duplicate"))
      val st2 = Layout.upsertByKeys(spark, d,
        Seq((1L, "eu", 1L), (1L, "us", 2L)).toDF("id", "region", "v"),
        Seq("id", "region"))
      assert(st2.rowsReplaced === 2L, st2.toString)
      // a merge key the manifest does not track is refused loudly
      val bad = intercept[IllegalArgumentException] {
        Layout.upsertByKeys(spark, d, upd, Seq("id", "v"))
      }
      assert(bad.getMessage.contains("not a stored manifest key"))
    }
  }

  test("schema evolution: mergeSchema append adds a column, every reader resolves it canonically") {
    withTempDir("graft_evolve_") { dir =>
      val d = s"$dir/t"
      (0L until 100L).map(k => (k, k * 2)).toDF("k", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k")
        .write.mode("overwrite").parquet(d)
      Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      // a PLAIN append with a new column is refused, naming the fix
      val ev = (100L until 150L).map(k => (k, k * 2, s"s$k"))
        .toDF("k", "v", "tag")
      val err = intercept[IllegalArgumentException] {
        Layout.appendWithManifest(ev, d, Seq("k"))
      }
      assert(err.getMessage.contains("mergeSchema"))
      Layout.appendWithManifest(ev, d, Seq("k"), mergeSchema = true)
      val all = Layout.readLayout(spark, d)
      assert(all.columns.toSeq === Seq("k", "v", "tag"))
      assert(all.count() === 150L)
      assert(all.filter(col("tag").isNull).count() === 100L)
      // THE schema-stability point: a pruned read whose survivors all
      // PREDATE the column still carries it (as nulls) — without the
      // sidecar its presence would depend on footer sampling
      val oldOnly = Layout.scanPruned(spark, d,
        Seq(Layout.KeyBox("k", 10L, 20L)))
      assert(oldOnly.columns.toSeq === Seq("k", "v", "tag"))
      assert(oldOnly.count() === 11L)
      assert(oldOnly.filter(col("tag").isNotNull).count() === 0L)
      // a mixed-vintage pruned read equals its full-scan twin
      val mixed = Layout.scanPruned(spark, d,
        Seq(Layout.KeyBox("k", 90L, 110L)))
      assert(mixed.count() === 21L)
      assert(mixed.filter(col("tag").isNotNull).count() === 11L)
      // retyping and dropping stay hard errors even under mergeSchema
      intercept[IllegalArgumentException] {
        Layout.appendWithManifest(Seq((1L, "x", "t")).toDF("k", "v", "tag"),
          d, Seq("k"), mergeSchema = true)
      }
      intercept[IllegalArgumentException] {
        Layout.appendWithManifest(Seq((1L, "t")).toDF("k", "tag"),
          d, Seq("k"), mergeSchema = true)
      }
      // the evolved schema is authoritative for every later WRITE:
      // an old-shape upsert batch is refused, a full-schema one works
      // against pre-evolution rows
      intercept[IllegalArgumentException] {
        Layout.upsertByKey(spark, d, Seq((11L, 1L)).toDF("k", "v"), "k")
      }
      val st = Layout.upsertByKey(spark, d,
        Seq((10L, 999L, "u10"), (200L, 0L, "new")).toDF("k", "v", "tag"), "k")
      assert(st.rowsReplaced === 1L && st.rowsUpserted === 2L, st.toString)
      assert(Layout.readLayout(spark, d).filter(col("k") === 10L)
        .select("tag").as[String].collect().toSeq === Seq("u10"))
      // deleteWhere's partial rewrite of a pre-evolution file keeps
      // the column resolvable
      val del = Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("k", 0L, 5L)))
      assert(del.rowsDeleted === 6L, del.toString)
      val left = Layout.readLayout(spark, d)
      assert(left.columns.toSeq === Seq("k", "v", "tag"))
      assert(left.count() === 145L)
      // compact FINISHES the evolution: the output is homogeneous (a
      // plain read resolves everything — no sidecar needed) with the
      // evolved values intact; a plain pre-fix read of the INPUT
      // could have dropped the column entirely off a sampled footer
      val out = s"$dir/compacted"
      Layout.compact(spark, d, out)
      val c = spark.read.parquet(out)
      assert(c.columns.toSet === Set("k", "v", "tag"))
      assert(c.count() === 145L)
      assert(c.filter(col("tag") === "u10").count() === 1L)
      assert(c.agg(sum("v")).head().getLong(0) ===
        left.agg(sum("v")).head().getLong(0))
    }
  }

  test("schema evolution on a hive-partitioned layout: appends, pruned reads, partitioned compaction") {
    withTempDir("graft_evolve_part_") { dir =>
      val d = s"$dir/t"
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
        .select("doc_id", "lang", "n_chars")
      docs.write.partitionBy("lang").mode("overwrite").parquet(d)
      Layout.buildFileManifest(spark, d, Seq("doc_id"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      val ev = docs.filter(col("doc_id") < 20)
        .withColumn("doc_id", col("doc_id") + lit(100000L))
        .withColumn("score", col("n_chars").cast("double") / 2)
      Layout.appendWithManifest(ev, d, Seq("doc_id"), mergeSchema = true)
      val all = Layout.readLayout(spark, d)
      assert(all.columns.toSet === Set("doc_id", "lang", "n_chars", "score"))
      assert(all.count() === docs.count() + 20L)
      // routing still correct: no data files at the partitioned root
      val fs = new org.apache.hadoop.fs.Path(d)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.listStatus(new org.apache.hadoop.fs.Path(d)).exists(s0 =>
        s0.isFile && !s0.getPath.getName.startsWith("_")),
        "evolved append landed data files at the partitioned root")
      // pruned read over pre-evolution keys only: column present, all
      // null, partition column still materialized
      val oldOnly = Layout.scanPruned(spark, d,
        Seq(Layout.KeyBox("doc_id", 0L, 50L)))
      assert(oldOnly.columns.toSet.contains("score"))
      assert(oldOnly.filter(col("score").isNotNull).count() === 0L)
      assert(oldOnly.count() === 51L)
      // post-evolution keys carry values + their partition column
      val newOnly = Layout.scanPruned(spark, d,
        Seq(Layout.KeyBox("doc_id", 100000L, 200000L)))
      assert(newOnly.count() === 20L)
      assert(newOnly.filter(col("score").isNull ||
        col("lang").isNull).count() === 0L)
      // partitioned compaction keeps the evolved column and values
      val out = s"$dir/c"
      Layout.compactPartitioned(spark, d, out)
      val c = spark.read.parquet(out)
      assert(c.columns.toSet === Set("doc_id", "lang", "n_chars", "score"))
      assert(c.count() === all.count())
      assert(c.filter(col("score").isNotNull).count() === 20L)
      assert(c.agg(sum("n_chars")).head().getLong(0) ===
        all.agg(sum("n_chars")).head().getLong(0))
    }
  }

  test("bloom manifest stats: point lookups prune files the clustering cannot") {
    withTempDir("graft_bloom_") { dir =>
      val d = s"$dir/t"
      // k1-clustered; k2 scatters across the whole domain in every
      // file, so [min,max] stats of k2 prune NOTHING for a point
      // lookup — the exact gap the per-file bloom closes. k2 =
      // k1·7919 mod 1000 puts each value in exactly one file
      // (gcd(7919, 1000) = 1).
      (0L until 200L).map(k => (k, (k * 7919L) % 1000L)).toDF("k1", "k2")
        .repartitionByRange(4, col("k1")).sortWithinPartitions("k1")
        .write.mode("overwrite").parquet(d)
      Layout.buildFileManifest(spark, d, Seq("k1", "k2"),
          bloomKeys = Seq("k2"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      val mf = Layout.loadManifest(spark, d)
      assert(mf.columns.contains("bloom_k2"))
      // k2 = 190 lives only in the row k1 = 10 (10·7919 mod 1000)
      val probe = Seq(Layout.KeySetBox("k2", Seq(190L)))
      assert(Layout.scanPruned(spark, d, probe)
        .select("k1").as[Long].collect().toSeq === Seq(10L))
      assert(Layout.countWhere(spark, d, probe) === 1L)
      // a value in NO file skips everything — schema kept, zero rows
      assert(Layout.scanPruned(spark, d,
        Seq(Layout.KeySetBox("k2", Seq(5000L)))).count() === 0L)
      // PROOF the bloom-skipped files never open: delete every file
      // except the one holding k1 = 10 and the probe still answers
      val fs = new org.apache.hadoop.fs.Path(d)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val goners = mf.filter(col("min_k1") > 10L || col("max_k1") < 10L)
        .select("file").as[String].collect()
      assert(goners.length === 3, goners.mkString(", "))
      goners.foreach(f =>
        fs.delete(new org.apache.hadoop.fs.Path(new java.net.URI(f)), false))
      assert(Layout.scanPruned(spark, d, probe)
        .select("k1").as[Long].collect().toSeq === Seq(10L))
    }
  }

  test("bloom stats survive the patch verbs and enforce their contracts") {
    withTempDir("graft_bloom_patch_") { dir =>
      val d = s"$dir/t"
      (0L until 200L).map(k => (k, (k * 7919L) % 1000L)).toDF("k1", "k2")
        .repartitionByRange(4, col("k1")).sortWithinPartitions("k1")
        .write.mode("overwrite").parquet(d)
      Layout.buildFileManifest(spark, d, Seq("k1", "k2"),
          bloomKeys = Seq("k2"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      // append: the delta manifest rows carry blooms (derived from
      // the STORED format, so the union cannot mismatch) and the new
      // value is immediately bloom-findable
      Layout.appendWithManifest(
        (1000L until 1005L).map(k => (k, 7777L)).toDF("k1", "k2"),
        d, Seq("k1", "k2"))
      val mf2 = Layout.loadManifest(spark, d)
      assert(mf2.filter(col("bloom_k2").isNull).count() === 0L)
      assert(Layout.scanPruned(spark, d,
          Seq(Layout.KeySetBox("k2", Seq(7777L))))
        .select("k1").as[Long].collect().sorted.toSeq ===
        (1000L until 1005L).toSeq)
      // upsert: rewrite + insert rows get blooms too; the moved value
      // is findable at both its old and new carrier
      val st = Layout.upsertByKey(spark, d,
        Seq((20L, 190L)).toDF("k1", "k2"), "k1")
      assert(st.rowsReplaced === 1L, st.toString)
      assert(Layout.loadManifest(spark, d)
        .filter(col("bloom_k2").isNull).count() === 0L)
      assert(Layout.scanPruned(spark, d,
          Seq(Layout.KeySetBox("k2", Seq(190L))))
        .select("k1").as[Long].collect().sorted.toSeq === Seq(10L, 20L))
      // compaction rebuilds the blooms over its output instead of
      // silently demoting the layout to range-only skipping
      val out = s"$dir/c"
      Layout.compact(spark, d, out)
      assert(Layout.loadManifest(spark, out).columns.contains("bloom_k2"))
      // loud contracts: bloom keys must be manifest keys, and integral
      intercept[IllegalArgumentException] {
        Layout.buildFileManifest(spark, d, Seq("k1"), bloomKeys = Seq("k2"))
      }
      withTempDir("graft_bloom_str_") { d2 =>
        val p2 = s"$d2/t"
        Seq((1L, "a")).toDF("k", "s").write.parquet(p2)
        intercept[IllegalArgumentException] {
          Layout.buildFileManifest(spark, p2, Seq("k", "s"),
            bloomKeys = Seq("s"))
        }
      }
    }
  }

  test("optimize: in-place OPTIMIZE — appends degrade depth, the rewrite re-tightens, blooms and evolved columns survive") {
    withTempDir("graft_optimize_") { dir =>
      val d = s"$dir/t"
      (0L until 1000L).map(k => (k, (k * 7919L) % 1000L)).toDF("k1", "k2")
        .repartitionByRange(4, col("k1")).sortWithinPartitions("k1")
        .write.mode("overwrite").parquet(d)
      Layout.buildFileManifest(spark, d, Seq("k1", "k2"),
          bloomKeys = Seq("k2"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      // a well-clustered layout is a metadata-only no-op. The trigger
      // takes the WORST depth across stored keys — and the scattered
      // k2 already sits at depth 4 (every file's k2 range spans the
      // domain), so the quiet threshold must clear it
      val st0 = Layout.optimize(spark, d, files = 2, maxDepth = 5L)
      assert(!st0.reclustered && st0.worstDepthBefore === 4L, st0.toString)
      // evolve (ADD COLUMN), then degrade: each appended batch spans
      // the full k1 domain, adding one to every point's depth
      Layout.appendWithManifest(
        (0L until 100L).map(k => (k * 10L, k, s"t$k")).toDF("k1", "k2", "tag"),
        d, Seq("k1", "k2"), mergeSchema = true)
      for (i <- 1 to 3)
        Layout.appendWithManifest(
          (0L until 100L).map(k => (k * 10L + i, k + 100L * i))
            .toDF("k1", "k2").withColumn("tag", lit(null).cast("string")),
          d, Seq("k1", "k2"))
      assert(Layout.needsRecluster(Layout.loadManifest(spark, d), "k1", 4L))
      val totalBefore = Layout.readLayout(spark, d)
        .agg(count(lit(1)), sum("k1")).head()
      val st = Layout.optimize(spark, d, files = 2, maxDepth = 5L)
      assert(st.reclustered && st.worstDepthBefore >= 5L, st.toString)
      assert(st.filesAfter === 2, st.toString)
      // depth is re-tightened (≤ file count by construction)
      assert(!Layout.needsRecluster(Layout.loadManifest(spark, d), "k1", 4L))
      // rows identical; the evolved column is MATERIALIZED and the
      // sidecar retired — a plain read now resolves everything
      val after = spark.read.parquet(d)
      assert(after.agg(count(lit(1)), sum("k1")).head() === totalBefore)
      assert(after.columns.toSet === Set("k1", "k2", "tag"))
      assert(after.filter(col("tag") === "t5").count() === 1L)
      val fs = new org.apache.hadoop.fs.Path(d)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$d/_graft_schema.json")),
        "optimize left the schema sidecar behind")
      // the rebuilt manifest kept the bloom index: a point probe on
      // the unclustered key still answers through it
      val mf = Layout.loadManifest(spark, d)
      assert(mf.columns.contains("bloom_k2"))
      assert(mf.filter(col("bloom_k2").isNull).count() === 0L)
      // k2 = 190 carriers: base k1 = 10 (10·7919 mod 1000) and append
      // batch 1's k = 90 row (k1 = 901, k2 = 90 + 100)
      assert(Layout.scanPruned(spark, d,
          Seq(Layout.KeySetBox("k2", Seq(190L))))
        .select("k1").as[Long].collect().sorted.toSeq === Seq(10L, 901L))
      // pruned range reads stay exact against a full-scan twin
      val box = Seq(Layout.KeyBox("k1", 100L, 120L))
      assert(Layout.scanPruned(spark, d, box).count() ===
        spark.read.parquet(d).filter(col("k1").between(100L, 120L)).count())
      // an out-of-band file (a crashed delete's duplicates, say) must
      // NOT be silently legitimized by the rewrite: optimize refuses,
      // quarantine recovers, then the rewrite proceeds
      val blessed = spark.read.parquet(d).count()
      Seq((5000L, 5000L, "oob")).toDF("k1", "k2", "tag")
        .write.mode("append").parquet(d)
      val cov = intercept[IllegalArgumentException] {
        Layout.optimize(spark, d, files = 2, force = true)
      }
      assert(cov.getMessage.contains("manifest does not cover"))
      Layout.quarantineUncovered(spark, d, s"$dir/quarantine")
      val st2 = Layout.optimize(spark, d, files = 2, force = true)
      assert(st2.reclustered, st2.toString)
      assert(spark.read.parquet(d).count() === blessed,
        "the quarantined out-of-band row leaked back in")
    }
  }

  test("optimize with more keys than the curve interleaves falls back to range clustering") {
    withTempDir("graft_opt_9k_") { dir =>
      val d = s"$dir/t"
      // 9 long keys — one past zorderN's 8-key interleave limit; the
      // rewrite must fall back to lexicographic range clustering, not
      // abort the OPTIMIZE the depth trigger demanded
      val keys9 = (1 to 9).map(i => s"k$i")
      spark.range(0, 200)
        .select((1 to 9).map(i => (col("id") * i).cast("long").as(s"k$i")): _*)
        .repartition(4)
        .write.mode("overwrite").parquet(d)
      Layout.buildFileManifest(spark, d, keys9)
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      val st = Layout.optimize(spark, d, files = 2, force = true)
      assert(st.reclustered && st.filesAfter === 2, st.toString)
      assert(spark.read.parquet(d).count() === 200L)
      // the range rewrite still serves exact pruned reads on the
      // leading key
      assert(Layout.scanPruned(spark, d,
        Seq(Layout.KeyBox("k1", 0L, 10L))).count() === 11L)
    }
  }

  test("optimizeSelective: rewrites only the files the depth profile names; kept files keep their exact names") {
    withTempDir("graft_optsel_") { dir =>
      val d = s"$dir/t"
      def part(rows: Seq[(Long, Long)]): Unit =
        rows.toDF("k", "v").repartition(1).write.mode("append").parquet(d)
      part((0L to 99L).map(k => (k, k * 2)))
      part((100L to 199L).map(k => (k, k * 2)))
      part((200L to 299L).map(k => (k, k * 2)))
      part((300L to 399L).map(k => (k, k * 2)))
      Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      // churn: four narrow appends stacked over [120,180] — depth 5
      // there, 1 everywhere else
      for (_ <- 1 to 4)
        Layout.appendWithManifest(
          (120L to 180L).map(k => (k, -k)).toDF("k", "v").repartition(1),
          d, Seq("k"))
      val before = spark.read.parquet(d).inputFiles.toSet
      val totalBefore = spark.read.parquet(d).count()
      // below the trigger: metadata-only no-op, everything kept
      val none = Layout.optimizeSelective(spark, d, targetRows = 1000L,
        maxDepth = 100L)
      assert(!none.reclustered && none.filesKept === before.size, none.toString)
      assert(spark.read.parquet(d).inputFiles.toSet === before)
      // fires: the rewrite set is the 4 churn files + the [100,199]
      // base file under them — 5 of 8; the other 3 base files keep
      // their EXACT names and manifest rows
      val st = Layout.optimizeSelective(spark, d, targetRows = 1000L,
        maxDepth = 4L)
      assert(st.reclustered && st.filesBefore === 8, st.toString)
      assert(st.filesKept === 3, st.toString)
      val after = spark.read.parquet(d)
      assert(after.inputFiles.toSet.intersect(before).size === 3,
        "kept files did not keep their exact names")
      // 344 selected rows bin-pack into one output: 3 kept + 1 new
      assert(st.filesAfter === 4, st.toString)
      // nothing lost, nothing duplicated — the churn duplicates
      // survive as data (optimize is layout-only, not dedup)
      assert(after.count() === totalBefore)
      assert(after.filter(col("k").between(120, 180) && col("v") < 0)
        .count() === 4 * 61L)
      // the patched manifest serves exact pruned reads across the
      // kept/rewritten boundary, and the depth is back under the bar
      val pruned = Layout.scanPruned(spark, d,
        Seq(Layout.KeyBox("k", 150L, 250L)))
      assert(pruned.count() ===
        after.filter(col("k").between(150, 250)).count())
      assert(!Layout.needsRecluster(Layout.loadManifest(spark, d), "k", 4L))

      // evolved layout: selective rewrite KEEPS the sidecar — kept
      // files still predate the added column and must keep resolving
      // it as null
      Layout.appendWithManifest(
        (500L to 520L).map(k => (k, k, 1.0)).toDF("k", "v", "w")
          .repartition(1), d, Seq("k"), mergeSchema = true)
      for (_ <- 1 to 4)
        Layout.appendWithManifest(
          (500L to 520L).map(k => (k, k, 2.0)).toDF("k", "v", "w")
            .repartition(1), d, Seq("k"))
      val st2 = Layout.optimizeSelective(spark, d, targetRows = 1000L,
        maxDepth = 4L)
      assert(st2.reclustered && st2.filesKept === 4, st2.toString)
      assert(Layout.storedSchemaOf(spark, d).nonEmpty,
        "selective rewrite retired the sidecar while kept files predate the column")
      val rl = Layout.readLayout(spark, d)
      assert(rl.filter(col("k") === 10L).select("w").collect()(0).isNullAt(0))
      assert(rl.filter(col("w") === 2.0).count() === 4 * 21L)

      // small-file tail: with minFileRows the shallow small files
      // join the rewrite under force even though nothing is deep
      val st3 = Layout.optimizeSelective(spark, d, targetRows = 10000L,
        maxDepth = 4L, minFileRows = 120L, force = true)
      assert(st3.reclustered && st3.filesKept === 1 && st3.filesAfter === 2,
        st3.toString)
      assert(spark.read.parquet(d).count() === totalBefore + 5 * 21L)
    }
  }

  test("optimizePartitioned: leaf-selective rewrites off per-leaf depth; evolution and blooms survive") {
    withTempDir("graft_opt_part_") { dir =>
      val d = s"$dir/t"
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
        .select("doc_id", "lang", "n_chars")
      docs.write.partitionBy("lang").mode("overwrite").parquet(d)
      Layout.buildFileManifest(spark, d, Seq("doc_id", "lang"),
          bloomKeys = Seq("doc_id"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      // evolve (ADD COLUMN), then degrade: every append's rows overlap
      // the base doc_id domain, so each adds a file per partition that
      // deepens every point lookup
      Layout.appendWithManifest(docs.filter(col("doc_id") < 100)
          .withColumn("score", (col("n_chars") % 5).cast("double")),
        d, Seq("doc_id", "lang"), mergeSchema = true)
      for (i <- 1 to 2)
        Layout.appendWithManifest(docs
            .filter(col("doc_id").between(100 * i, 100 * i + 99))
            .withColumn("score", lit(null).cast("double")),
          d, Seq("doc_id", "lang"))
      val before = Layout.readLayout(spark, d)
        .agg(count(lit(1)), sum("doc_id"), sum("n_chars")).head()
      val st = Layout.optimize(spark, d,
        files = 1, maxDepth = 3L)
      assert(st.reclustered && st.worstDepthBefore >= 3L, st.toString)
      val nLangs = docs.select("lang").distinct().count()
      assert(st.filesAfter === nLangs, st.toString)
      // rows identical; the evolved column materialized, the sidecar
      // retired (a PLAIN read now resolves everything)
      val after = spark.read.parquet(d)
      assert(after.columns.toSet ===
        Set("doc_id", "lang", "n_chars", "score"))
      assert(after.agg(count(lit(1)), sum("doc_id"), sum("n_chars"))
        .head() === before)
      val fs = new org.apache.hadoop.fs.Path(d)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$d/_graft_schema.json")))
      // depth strictly improved: every leaf is at its 1-file floor,
      // so the PER-LEAF signal that fired the rewrite is reset and a
      // re-invocation declines as a metadata-only no-op (the global
      // cross-leaf doc_id overlap that remains is partition-intrinsic
      // — a partition-pruned lookup never pays it)
      val st2b = Layout.optimize(spark, d, 1, maxDepth = 3L)
      assert(!st2b.reclustered && st2b.filesKept === st2b.filesBefore,
        st2b.toString)
      val mf = Layout.loadManifest(spark, d)
      // blooms rebuilt over the output; both pruning forms stay exact
      assert(mf.filter(col("bloom_doc_id").isNull).count() === 0L)
      assert(Layout.scanPruned(spark, d,
          Seq(Layout.KeySetBox("doc_id", Seq(42L)))).count() ===
        after.filter(col("doc_id") === 42L).count())
      val lang0 = after.select("lang").orderBy("lang")
        .limit(1).as[String].head()
      assert(Layout.scanPruned(spark, d,
          Seq(Layout.TypedKeyBox("lang", lang0, lang0))).count() ===
        after.filter(col("lang") === lang0).count())
      // an EMPTIED leaf (a delete can leave a bare k=v dir behind) is
      // skipped, never crashed on — a mid-walk abort would strand
      // already-swapped leaves ahead of the manifest rebuild
      val leaf = new org.apache.hadoop.fs.Path(s"$d/lang=$lang0")
      fs.listStatus(leaf).filter { st0 =>
        val n = st0.getPath.getName
        st0.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.foreach(st0 => fs.delete(st0.getPath, false))
      val st3 = Layout.optimize(spark, d, 1, force = true)
      assert(st3.reclustered, st3.toString)
      assert(spark.read.parquet(d).filter(col("lang") === lang0)
        .count() === 0L)

      // LEAF-selective: churn ONE partition; only it rewrites — every
      // cold leaf keeps its exact file names and manifest rows
      val d2 = s"$dir/t2"
      docs.write.partitionBy("lang").mode("overwrite").parquet(d2)
      Layout.buildFileManifest(spark, d2, Seq("doc_id", "lang"))
        .write.mode("overwrite").parquet(s"$d2/_graft_manifest")
      val hot = "en"
      for (_ <- 1 to 4)
        Layout.appendWithManifest(docs.filter(col("lang") === hot),
          d2, Seq("doc_id", "lang"))
      val before2 = spark.read.parquet(d2).inputFiles.toSet
      val total2 = spark.read.parquet(d2).count()
      val stSel = Layout.optimize(spark, d2, 1, maxDepth = 4L)
      assert(stSel.reclustered, stSel.toString)
      val nCold = docs.select("lang").distinct().count().toInt - 1
      assert(stSel.filesKept === nCold, stSel.toString)
      val after2 = spark.read.parquet(d2)
      assert(after2.inputFiles.toSet.intersect(before2).size === nCold,
        "cold leaves did not keep their exact file names")
      assert(after2.count() === total2)
      assert(after2.filter(col("lang") === hot).count() ===
        5L * docs.filter(col("lang") === hot).count())
      // the PATCHED manifest still serves exact pruned reads on both
      // partition and data keys across the hot/cold boundary
      assert(Layout.scanPruned(spark, d2,
          Seq(Layout.TypedKeyBox("lang", "de", "de"))).count() ===
        docs.filter(col("lang") === "de").count())
      assert(Layout.scanPruned(spark, d2,
          Seq(Layout.KeyBox("doc_id", 0L, 49L))).count() ===
        after2.filter(col("doc_id") <= 49L).count())

      // convergence with filesPerPartition >= maxDepth: the rewrite
      // must not re-classify its own output deep — a partition-column
      // key's per-leaf "depth" is just the file count and is excluded
      // from the clustering signal, else every call would full-tree
      // rewrite forever
      val stConv = Layout.optimize(spark, d2, 4,
        maxDepth = 4L, force = true)
      assert(stConv.reclustered, stConv.toString)
      val stConv2 = Layout.optimize(spark, d2, 4, maxDepth = 4L)
      assert(!stConv2.reclustered,
        "rewrite output re-classified deep — unbounded rewrite loop")
    }
  }

  test("optimizePartitionedSelective: rewrites only the hot band inside the hot leaf") {
    import spark.implicits._
    withTempDir("graft_optps_") { dir =>
      val d = s"$dir/t"
      // two lang-like leaves, each range-clustered into 4 files with
      // near-disjoint k ranges
      (0L to 399L).map(k => (k, if (k % 2 == 0) "a" else "b", k * 3))
        .toDF("k", "g", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k")
        .write.partitionBy("g").parquet(d)
      Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      // four stacked appends over k ∈ [0, 80], all into g=a: depth 5
      // in that band of the hot leaf, 1 everywhere else
      val churn = (0L to 80L by 2L).map(k => (k, "a", k * 3)).toDF("k", "g", "v")
        .repartition(1)
      for (_ <- 1 to 4) Layout.appendWithManifest(churn, d, Seq("k"))
      val before = spark.read.parquet(d).inputFiles.toSet
      def canon() = spark.read.parquet(d).groupBy("g")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"), sum("k").as("sk"))
        .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
      val expect = canon()
      val st = Layout.optimizeSelective(spark, d,
        targetRows = 1000L, maxDepth = 4L)
      assert(st.reclustered && st.filesKept > 0)
      val after = spark.read.parquet(d).inputFiles.toSet
      val kept = after.intersect(before)
      assert(kept.size === st.filesKept,
        "kept files must keep their exact names")
      // every cold-leaf file is verbatim…
      assert(before.filter(_.contains("g=b")).forall(kept.contains),
        "a cold leaf was touched")
      // …and so are the hot leaf's files OUTSIDE the churn band
      assert(kept.exists(_.contains("g=a")),
        "no cold file survived inside the hot leaf")
      assert(canon() === expect, "the partial rewrite changed the rows")
      // the patched manifest still prunes exactly across kept and
      // rewritten regions
      assert(Layout.scanPruned(spark, d, Seq(Layout.KeyBox("k", 40L, 250L)))
          .count() ===
        spark.read.parquet(d).filter(col("k").between(40L, 250L)).count())
      // the rewrite genuinely reset the depth: a second call declines
      val st2 = Layout.optimizeSelective(spark, d,
        targetRows = 1000L, maxDepth = 4L)
      assert(!st2.reclustered && st2.filesKept === after.size)
      // small-file tail is selectable independently of depth
      Layout.appendWithManifest(
        Seq((500L, "b", 1L)).toDF("k", "g", "v").repartition(1),
        d, Seq("k"))
      val st3 = Layout.optimizeSelective(spark, d,
        targetRows = 1000L, maxDepth = 4L, minFileRows = 5L)
      assert(st3.reclustered && st3.filesBefore - st3.filesKept >= 1)
      assert(canon().map(_._2).sum === expect.map(_._2).sum + 1)
    }
  }

  test("optimizePartitionedSelective on a STRING key: boundary-domain sweep selects the hot band per leaf") {
    import spark.implicits._
    withTempDir("graft_optpss_") { dir =>
      val d = s"$dir/t"
      // string clustering key (lang-like), partition column g: each
      // leaf range-clustered over the string domain
      val langs = Vector("ar", "de", "en", "fr", "ja", "ko", "pt", "zh")
      (0L to 399L).map(k => (langs((k % 8).toInt), if (k < 200) "a" else "b", k))
        .toDF("lang", "g", "v")
        .repartitionByRange(4, col("lang")).sortWithinPartitions("lang")
        .write.partitionBy("g").parquet(d)
      Layout.buildFileManifest(spark, d, Seq("lang"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      // stack 4 appends covering ONLY ["de","en"] into g=a
      val churn = Seq(("de", "a", 1L), ("en", "a", 2L)).toDF("lang", "g", "v")
        .repartition(1)
      for (_ <- 1 to 4) Layout.appendWithManifest(churn, d, Seq("lang"))
      val before = spark.read.parquet(d).inputFiles.toSet
      def canon() = spark.read.parquet(d).groupBy("g", "lang")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"))
        .as[(String, String, Long, Long)].collect().sorted.toSeq
      val expect = canon()
      val st = Layout.optimizeSelective(spark, d,
        targetRows = 1000L, maxDepth = 4L)
      assert(st.reclustered && st.filesKept > 0, st.toString)
      val kept = spark.read.parquet(d).inputFiles.toSet.intersect(before)
      assert(kept.size === st.filesKept)
      // the cold leaf is untouched; the hot leaf keeps files whose
      // string ranges sit outside the churn band
      assert(before.filter(_.contains("g=b")).forall(kept.contains),
        "a cold leaf was touched")
      assert(kept.exists(_.contains("g=a")),
        "no cold file survived inside the hot leaf")
      assert(canon() === expect)
      // string-box pruned read stays exact over the patched manifest
      assert(Layout.scanPruned(spark, d,
          Seq(Layout.TypedKeyBox("lang", "de", "fr"))).count() ===
        spark.read.parquet(d)
          .filter(col("lang").between("de", "fr")).count())
      // depth genuinely reset
      assert(!Layout.optimizeSelective(spark, d,
        targetRows = 1000L, maxDepth = 4L).reclustered)
    }
  }

  test("streaming maintenance loop: foreachBatch append + auto-optimize keeps point-lookup depth bounded") {
    withTempDir("graft_stream_opt_") { dir =>
      val d = s"$dir/t"
      (0L until 500L).map(k => (k, k % 97L)).toDF("k1", "k2")
        .repartitionByRange(2, col("k1")).sortWithinPartitions("k1")
        .write.mode("overwrite").parquet(d)
      Layout.buildFileManifest(spark, d, Seq("k1", "k2"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val in = MemoryStream[(Long, Long)]
      // the full lakehouse maintenance loop under continuous ingest:
      // every micro-batch lands with its delta stats, and whenever
      // the appended files push some point's lookup depth past the
      // threshold, the in-place OPTIMIZE fires inside the same batch
      var optimized = 0
      val q = in.toDF().toDF("k1", "k2")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          Layout.appendWithManifest(batch, d, Seq("k1", "k2"))
          if (Layout.needsRecluster(Layout.loadManifest(spark, d),
              "k1", maxDepth = 4L)) {
            Layout.optimize(spark, d, files = 2, maxDepth = 4L)
            optimized += 1
          }
          ()
        }.start()
      try {
        var expected = 500L
        for (i <- 0 until 6) {
          // each batch spans the whole k1 domain — the depth-degrading
          // worst case for a clustered layout
          in.addData((0L until 100L).map(k => (k * 5L + i, k)))
          q.processAllAvailable()
          expected += 100L
          val full = spark.read.parquet(d)
          assert(full.count() === expected, s"rows lost at batch $i")
          // pruned ≡ full after EVERY batch, including mid-loop ones
          // where optimize just churned the whole directory
          assert(Layout.scanPruned(spark, d,
              Seq(Layout.KeyBox("k1", 100L, 150L))).count() ===
            full.filter(col("k1").between(100L, 150L)).count(),
            s"pruned read diverged at batch $i")
          // the invariant the loop maintains: depth stays bounded
          // (threshold + at most one batch's files), never grows with
          // the number of batches ingested
          assert(!Layout.needsRecluster(Layout.loadManifest(spark, d),
            "k1", 6L), s"depth unbounded at batch $i")
        }
      } finally q.stop()
      assert(optimized >= 1, "the OPTIMIZE trigger never fired")
    }
  }

  test("quarantineUncovered: out-of-band files move aside, reads recover, rows re-append") {
    withTempDir("graft_quarantine_") { dir =>
      val d = s"$dir/t"
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_suppkey")
      Layout.write(li, s"$dir/t",
        Seq(col("l_partkey"), col("l_suppkey")), files = 4,
        manifestKeys = Seq("l_partkey", "l_suppkey"))
      val covered = li.count()
      // simulate crash debris / an out-of-band append: land 7 rows
      // the manifest knows nothing about
      val stray = li.limit(7)
      stray.repartition(1).write.mode("append").parquet(d)
      val strayRows = 7L
      // every coverage-guarded read now refuses, loudly
      intercept[IllegalArgumentException] {
        Layout.scanPruned(spark, d, Seq(Layout.KeyBox("l_partkey", 20L, 60L)))
      }
      val moved = Layout.quarantineUncovered(spark, d, s"$dir/q")
      assert(moved.length === 1, moved.toString)
      // reads work again, over exactly the covered rows
      assert(spark.read.parquet(d).count() === covered)
      val pruned = Layout.scanPruned(spark, d,
        Seq(Layout.KeyBox("l_partkey", 20L, 60L)))
      assert(pruned.count() ===
        li.filter(col("l_partkey").between(20, 60)).count())
      // nothing destroyed: the quarantined rows re-append through the
      // front door and the manifest covers them from then on
      assert(spark.read.parquet(s"$dir/q").count() === strayRows)
      Layout.appendWithManifest(spark.read.parquet(s"$dir/q"), d,
        Seq("l_partkey", "l_suppkey"))
      assert(spark.read.parquet(d).count() === covered + strayRows)
      Layout.scanPruned(spark, d, Seq(Layout.KeyBox("l_partkey", 20L, 60L)))
        .count() // coverage check passes again
      // idempotent: a clean directory quarantines nothing
      assert(Layout.quarantineUncovered(spark, d, s"$dir/q2") === Nil)
    }
  }

  test("joinPruned: dim bounds prune fact files, result equals the unpruned join") {
    withTempDir("graft_joinpruned_") { dir =>
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_suppkey")
      Layout.write(li, s"$dir/li",
        Seq(col("l_partkey"), col("l_suppkey")), files = 16,
        manifestKeys = Seq("l_partkey", "l_suppkey"))
      val back = spark.read.parquet(s"$dir/li")
      val dim = (20L to 60L).toDF("p")
      val joined = Layout.joinPruned(spark, s"$dir/li", dim, "l_partkey", "p")
      // strictly fewer fact files than the full layout (the dim range
      // covers a corner of the z-square), and exact join equality
      assert(joined.inputFiles.length < back.inputFiles.length,
        "dim bounds pruned nothing")
      val full = back.join(dim, col("l_partkey") === col("p"))
      val key = (r: org.apache.spark.sql.Row) =>
        (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(joined.count() > 0, "degenerate spec: join matched nothing")
      assert(joined.select("l_orderkey", "l_partkey", "l_suppkey")
          .collect().map(key).sorted.toSeq ===
        full.select("l_orderkey", "l_partkey", "l_suppkey")
          .collect().map(key).sorted.toSeq)
      // empty dim: no fact file opens, schema (fact ⋈ dim) survives
      val none = Layout.joinPruned(spark, s"$dir/li",
        dim.where(lit(false)), "l_partkey", "p")
      assert(none.count() === 0L)
      assert(none.columns.toSet ===
        Set("l_orderkey", "l_partkey", "l_suppkey", "p"))
      // SPARSE dim: two far-apart keys. The set box skips every file
      // whose [min, max] contains neither key — strictly MORE pruning
      // than the equivalent [20, 180] range box, which keeps the gap
      val (kLo, kHi) = (20L, 180L)
      val sparse = Seq(kLo, kHi).toDF("p")
      val sparseJoined = Layout.joinPruned(spark, s"$dir/li",
        sparse, "l_partkey", "p")
      val rangeScan = Layout.scanPruned(spark, s"$dir/li",
        Seq(Layout.KeyBox("l_partkey", kLo, kHi)))
      assert(sparseJoined.inputFiles.length < rangeScan.inputFiles.length,
        "set box pruned no more than the range box")
      val sparseFull = back.join(sparse, col("l_partkey") === col("p"))
      assert(sparseJoined.count() === sparseFull.count())
      assert(sparseJoined.select("l_orderkey").as[Long].collect().sorted.toSeq
        === sparseFull.select("l_orderkey").as[Long].collect().sorted.toSeq)
      // the star-schema shape: fact and dim key SHARE a name — the
      // frame-qualified join condition must not be ambiguous, on both
      // the pruned path and the empty-dim path
      val sameName = (20L to 60L).toDF("l_partkey")
      val sameJoined = Layout.joinPruned(spark, s"$dir/li",
        sameName, "l_partkey", "l_partkey")
      assert(sameJoined.count() === joined.count())
      assert(Layout.joinPruned(spark, s"$dir/li",
        sameName.where(lit(false)), "l_partkey", "l_partkey").count() === 0L)
    }
  }

  test("manifest generations: pinned-generation readers survive concurrent mutations; vacuum drops old snapshots loudly") {
    withTempDir("graft_gen_") { dir =>
      val d = s"$dir/t"
      (0L to 99L).map(k => (k, k)).toDF("k", "v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k")
        .write.mode("overwrite").parquet(d)
      Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      Layout.enableGenerations(spark, d)
      assert(Layout.currentGeneration(spark, d) === 0L)
      // append commits generation 1; gen 0 must not see the new rows
      Layout.appendWithManifest(
        (100L to 109L).map(k => (k, k)).toDF("k", "v").repartition(1),
        d, Seq("k"))
      assert(Layout.currentGeneration(spark, d) === 1L)
      assert(Layout.readSnapshot(spark, d, 0L).count() === 100L)
      assert(Layout.readSnapshot(spark, d, 1L).count() === 110L)
      // a reader PINS generation 1; a "concurrent" deleteWhere then
      // commits generation 2, dropping the [0,49] file unopened
      val pinned = 1L
      val del = Layout.deleteWhere(spark, d,
        Seq(Layout.KeyBox("k", 0L, 49L)))
      assert(del.rowsDeleted === 50L, del.toString)
      assert(Layout.currentGeneration(spark, d) === 2L)
      // the live read sees the delete; the pinned generation still
      // reads its FULL pre-delete row set — the dropped file now
      // serves from the retirement area
      assert(spark.read.parquet(d).count() === 60L)
      val snap = Layout.readSnapshot(spark, d, pinned)
      assert(snap.count() === 110L)
      assert(snap.agg(sum("k")).as[Long].collect()(0) === (0L to 109L).sum)
      assert(Layout.readSnapshot(spark, d, 0L).count() === 100L)
      // an upsert commits generation 3; both sides of the update stay
      // readable at their own generations
      Layout.upsertByKey(spark, d, Seq((60L, 999L)).toDF("k", "v"), "k")
      assert(Layout.readSnapshot(spark, d, 2L)
        .filter(col("k") === 60L).select("v").as[Long].collect().toSeq
        === Seq(60L))
      assert(Layout.readSnapshot(spark, d, 3L)
        .filter(col("k") === 60L).select("v").as[Long].collect().toSeq
        === Seq(999L))
      // live verbs and pruned reads are untouched by the tracking
      assert(Layout.scanPruned(spark, d,
        Seq(Layout.KeyBox("k", 50L, 59L))).count() === 10L)
      // time-traveled PRUNED read: the gen-1 manifest's stats prune,
      // survivors resolve from retirement, and the deleted band is
      // still fully readable at its own generation
      assert(Layout.readSnapshot(spark, d, 1L,
        Seq(Layout.KeyBox("k", 0L, 59L))).count() === 60L)
      assert(Layout.readSnapshot(spark, d, 1L,
        Seq(Layout.KeyBox("k", 200L, 300L))).count() === 0L)
      // vacuum to the last 2 generations: gens 0 and 1 drop (their
      // manifests and the label-1 retired file), gen 2 keeps reading
      val (mfDropped, fDropped) =
        Layout.vacuumGenerations(spark, d, retainLast = 2)
      assert(mfDropped === 2 && fDropped >= 1, s"($mfDropped, $fDropped)")
      val gone = intercept[IllegalArgumentException] {
        Layout.readSnapshot(spark, d, 1L)
      }
      assert(gone.getMessage.contains("vacuum"))
      assert(Layout.readSnapshot(spark, d, 2L).count() === 60L)
      assert(Layout.readSnapshot(spark, d, 3L).count() === 60L)
      assert(spark.read.parquet(d).count() === 60L)
      // retained pruned snapshot still serves after the vacuum
      assert(Layout.readSnapshot(spark, d, 2L,
        Seq(Layout.KeyBox("k", 50L, 69L))).count() === 20L)
      // contracts: unknown generation
      val unknown = intercept[IllegalArgumentException] {
        Layout.readSnapshot(spark, d, 9L)
      }
      assert(unknown.getMessage.contains("unknown generation"))

      // schema-evolved + generation-tracked: a full optimize KEEPS
      // the sidecar — archived generations still reference retired
      // pre-evolution files, whose snapshot reads must keep resolving
      // the added column deterministically
      Layout.appendWithManifest(
        Seq((600L, 1L, 5.0)).toDF("k", "v", "w").repartition(1),
        d, Seq("k"), mergeSchema = true)
      val gEvolve = Layout.currentGeneration(spark, d)
      val stOpt = Layout.optimize(spark, d, files = 2, force = true)
      assert(stOpt.reclustered, stOpt.toString)
      assert(Layout.storedSchemaOf(spark, d).nonEmpty,
        "optimize retired the sidecar on a generation-tracked layout")
      val snapE = Layout.readSnapshot(spark, d, gEvolve)
      assert(snapE.filter(col("w") === 5.0).count() === 1L)
      assert(snapE.filter(col("k") === 60L).select("w")
        .collect()(0).isNullAt(0))

      // a FULL vacuum (retainLast = 1) drops every archived manifest —
      // the counter's only other record — and must NOT reset the
      // generation counter: a reset would re-issue a label pinned
      // readers already hold and silently serve them a different
      // snapshot. The floor marker keeps the count; the next commit
      // gets a FRESH label and old labels die loudly as vacuumed.
      val curBefore = Layout.currentGeneration(spark, d)
      Layout.vacuumGenerations(spark, d, retainLast = 1)
      assert(Layout.currentGeneration(spark, d) === curBefore,
        "full vacuum reset the generation counter")
      Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("k", 60L, 60L)))
      assert(Layout.currentGeneration(spark, d) === curBefore + 1L,
        "post-vacuum commit did not advance from the floor")
      val vGone = intercept[IllegalArgumentException] {
        Layout.readSnapshot(spark, d, curBefore - 1L)
      }
      assert(vGone.getMessage.contains("vacuum"))
      assert(Layout.readSnapshot(spark, d, curBefore + 1L)
        .filter(col("k") === 60L).count() === 0L)
    }
  }

  test("commit records: asOf resolution, operation labels, and expectedGen optimistic concurrency") {
    import spark.implicits._
    withTempDir("graft_asof_spec_") { dir =>
      val d = s"$dir/t"
      (0L to 99L).map(k => (k, k * 2)).toDF("k", "v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k")
        .write.parquet(d)
      Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      val tsPre = System.currentTimeMillis()
      Thread.sleep(2)
      Layout.enableGenerations(spark, d)
      Thread.sleep(2)
      val ts0 = System.currentTimeMillis() // after the gen-0 stamp
      Thread.sleep(2)
      Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("k", 0L, 24L)))
      Thread.sleep(2)
      val ts1 = System.currentTimeMillis() // between gen 1 and gen 2
      Thread.sleep(2)
      Layout.upsertByKey(spark, d, Seq((30L, 999L)).toDF("k", "v"), "k")
      // timestamp resolution: before history → loud, between commits →
      // that generation, now → live
      val early = intercept[IllegalArgumentException] {
        Layout.generationAsOf(spark, d, tsPre)
      }
      assert(early.getMessage.contains("at or before"))
      assert(Layout.generationAsOf(spark, d, ts0) === 0L)
      assert(Layout.generationAsOf(spark, d, ts1) === 1L)
      assert(Layout.generationAsOf(spark, d,
        System.currentTimeMillis()) === 2L)
      assert(Layout.readSnapshot(spark, d,
        Layout.generationAsOf(spark, d, ts0)).count() === 100L)
      assert(Layout.readSnapshot(spark, d,
        Layout.generationAsOf(spark, d, ts1)).count() === 75L)
      // history rows carry the committing verb and a commit time
      val hist = Layout.describeHistory(spark, d)
        .select("gen", "operation", "ts")
        .as[(Long, String, java.sql.Timestamp)].collect().sortBy(_._1)
      assert(hist.map(h => (h._1, h._2)).toSeq ===
        Seq((1L, "deleteWhere"), (2L, "upsertByKeys")))
      assert(hist.forall(_._3 != null))
      assert(hist(0)._3.getTime <= hist(1)._3.getTime)
      // optimistic concurrency: a stale expectation refuses with the
      // RETRYABLE exception type and mutates nothing; the refreshed
      // expectation commits
      val stale = intercept[java.util.ConcurrentModificationException] {
        Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("k", 90L, 99L)),
          expectedGen = Some(1L))
      }
      assert(stale.getMessage.contains("expected generation 1"))
      assert(Layout.currentGeneration(spark, d) === 2L,
        "a refused commit mutated the layout")
      assert(spark.read.parquet(d).count() === 75L)
      Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("k", 90L, 99L)),
        expectedGen = Some(2L))
      assert(Layout.currentGeneration(spark, d) === 3L)
      assert(spark.read.parquet(d).count() === 65L)
      // expectedGen demands generation tracking
      val d2 = s"$dir/untracked"
      (0L to 9L).map(k => (k, k)).toDF("k", "v").repartition(1)
        .write.parquet(d2)
      Layout.buildFileManifest(spark, d2, Seq("k"))
        .write.mode("overwrite").parquet(s"$d2/_graft_manifest")
      val untracked = intercept[IllegalArgumentException] {
        Layout.upsertByKey(spark, d2, Seq((1L, 5L)).toDF("k", "v"), "k",
          expectedGen = Some(0L))
      }
      assert(untracked.getMessage.contains("generation-tracked"))
      // vacuum drops commit records with their manifests: a vacuumed
      // instant fails loudly, the retained range still resolves
      val tsLive = System.currentTimeMillis()
      Layout.vacuumGenerations(spark, d, retainLast = 2)
      val vacuumed = intercept[IllegalArgumentException] {
        Layout.generationAsOf(spark, d, ts1)
      }
      assert(vacuumed.getMessage.contains("oldest retained"))
      assert(Layout.generationAsOf(spark, d, tsLive) === 3L)
      assert(Layout.readSnapshot(spark, d,
        Layout.generationAsOf(spark, d, tsLive)).count() === 65L)
      assert(Layout.readSnapshot(spark, d, 2L).count() === 75L)
      // a recordless generation degrades loudly, never resolves past
      val fsys = new org.apache.hadoop.fs.Path(d)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fsys.delete(new org.apache.hadoop.fs.Path(
        s"$d/_graft_history/commits/gen=2.json"), false))
      val gap = intercept[IllegalArgumentException] {
        Layout.generationAsOf(spark, d, tsLive)
      }
      assert(gap.getMessage.contains("no commit record"))
    }
  }

  test("commit timestamps clamp monotone under writer clock skew") {
    import spark.implicits._
    withTempDir("graft_monots_") { dir =>
      val d = s"$dir/t"
      (0L to 49L).map(k => (k, k)).toDF("k", "v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k")
        .write.parquet(d)
      Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      Layout.enableGenerations(spark, d)
      Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("k", 0L, 9L)))
      // simulate a fast-clock writer: plant a future instant into the
      // newest record, as if the previous committer's clock ran ahead
      val fsys = new org.apache.hadoop.fs.Path(d)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val rec = new org.apache.hadoop.fs.Path(
        s"$d/_graft_history/commits/gen=1.json")
      val future = System.currentTimeMillis() + 3600000L
      val out = fsys.create(rec, true)
      try out.write(
        s"""{"gen":1,"tsMillis":$future,"operation":"deleteWhere"}"""
          .getBytes("UTF-8"))
      finally out.close()
      // this writer's clock is an hour "behind" the planted record —
      // the clamp must stamp past it so timestamp order can never
      // disagree with generation order
      Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("k", 10L, 19L)))
      val hist = Layout.describeHistory(spark, d)
        .select("gen", "ts").as[(Long, java.sql.Timestamp)]
        .collect().sortBy(_._1)
      assert(hist.map(_._1).toSeq === Seq(1L, 2L))
      assert(hist(1)._2.getTime === future + 1L,
        "the clamp must stamp max(now, newest recorded ts + 1)")
      assert(Layout.generationAsOf(spark, d, future) === 1L)
      assert(Layout.generationAsOf(spark, d, future + 1L) === 2L)
    }
  }

  test("an OCC loss AFTER retirement rolls the layout back to the winner's state") {
    import spark.implicits._
    withTempDir("graft_occroll_") { dir =>
      val d = s"$dir/t"
      (0L to 99L).map(k => (k, k * 2)).toDF("k", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k")
        .write.parquet(d)
      Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      Layout.enableGenerations(spark, d)
      val filesBefore = spark.read.parquet(d).inputFiles.toSet
      // a "winner" that commits INSIDE the loser's destructive window
      // (between the pre-destructive OCC check and the commit point):
      // the watcher waits for the loser's retirement label to appear,
      // then plants the winner's archived generation — from that
      // instant the live generation is 1 and the loser's commit-point
      // check must lose
      val fsys = new org.apache.hadoop.fs.Path(d)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val retiredLabel = new org.apache.hadoop.fs.Path(
        s"$d/_graft_retired/gen=0")
      val winnerArchive = new org.apache.hadoop.fs.Path(
        s"$d/_graft_history/gen=0")
      @volatile var planted = false
      val watcher = new Thread(() => {
        while (!planted) {
          if (fsys.exists(retiredLabel)) {
            fsys.mkdirs(winnerArchive)
            planted = true
          } else Thread.sleep(1)
        }
      })
      watcher.setDaemon(true)
      watcher.start()
      val lost = intercept[java.util.ConcurrentModificationException] {
        // a PARTIAL box: some files rewrite (new files appear and must
        // be dropped by the rollback), some retire whole
        Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("k", 0L, 30L)),
          expectedGen = Some(0L))
      }
      watcher.join(10000)
      assert(planted, "the watcher never saw the retirement label")
      assert(lost.getMessage.contains("moved back"),
        s"expected the rollback message, got: ${lost.getMessage}")
      // the layout is byte-identical to the winner's state: every
      // retired file is back under its live name, the loser's rewrite
      // outputs are gone, and the (never-replaced) manifest is exact
      fsys.delete(winnerArchive, true) // clear the simulated archive
      assert(spark.read.parquet(d).inputFiles.toSet === filesBefore,
        "rollback must restore exactly the pre-verb file set")
      assert(spark.read.parquet(d).count() === 100L)
      assert(Layout.scanPruned(spark, d,
          Seq(Layout.KeyBox("k", 0L, 30L))).count() ===
        spark.read.parquet(d).filter(col("k").between(0L, 30L)).count())
      // and the verb succeeds on a clean retry
      val stats = Layout.deleteWhere(spark, d,
        Seq(Layout.KeyBox("k", 0L, 30L)), expectedGen = Some(0L))
      assert(stats.rowsDeleted === 31L)
      assert(spark.read.parquet(d).count() === 69L)
    }
  }

  test("restoreSnapshot and cloneSnapshot: undo-by-copy keeps every archived generation readable") {
    import spark.implicits._
    withTempDir("graft_restore_") { dir =>
      val d = s"$dir/t"
      (0L to 99L)
        .map(k => (k, if (k % 2 == 0) "en" else "fr", k * 10))
        .toDF("doc_id", "lang", "v")
        .repartitionByRange(2, col("doc_id")).sortWithinPartitions("doc_id")
        .write.partitionBy("lang").parquet(d)
      Layout.buildFileManifest(spark, d, Seq("doc_id"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      Layout.enableGenerations(spark, d)
      // gen 1: delete a band; gen 2: CDC update that moves a row
      Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("doc_id", 0L, 24L)))
      Layout.upsertByKey(spark, d,
        Seq((30L, "de", 999L)).toDF("doc_id", "lang", "v"), "doc_id")
      assert(spark.read.parquet(d).count() === 75L)
      // clone the PRE-MUTATION snapshot before restoring anything
      val c = s"$dir/clone"
      val copied = Layout.cloneSnapshot(spark, d, 0L, c)
      assert(copied > 0L)
      // restore to generation 0 — a NEW commit (gen 3), not a rewrite
      val st = Layout.restoreSnapshot(spark, d, 0L, expectedGen = Some(2L))
      assert(st.committed && st.filesCopied > 0, st.toString)
      assert(Layout.currentGeneration(spark, d) === 3L)
      val live = spark.read.parquet(d)
      assert(live.count() === 100L)
      assert(live.filter(col("doc_id") === 30L)
        .select("lang", "v").as[(String, Long)].collect().toSeq
        === Seq(("en", 300L)), "the restore did not undo the upsert")
      // pruned reads serve off the restored manifest's carried stats
      assert(Layout.scanPruned(spark, d,
          Seq(Layout.KeyBox("doc_id", 0L, 24L))).count() === 25L)
      // copy-never-move: every UNDONE generation stays readable
      assert(Layout.readSnapshot(spark, d, 1L).count() === 75L)
      assert(Layout.readSnapshot(spark, d, 2L)
        .filter(col("doc_id") === 30L).select("lang").as[String]
        .collect().toSeq === Seq("de"))
      // history records the restore as its own commit
      val ops = Layout.describeHistory(spark, d)
        .select("gen", "operation").as[(Long, String)].collect()
        .sortBy(_._1).toSeq
      assert(ops === Seq((1L, "deleteWhere"), (2L, "upsertByKeys"),
        (3L, "restore")))
      // restore-to-live is a no-op, never a phantom commit
      val noop = Layout.restoreSnapshot(spark, d, 3L)
      assert(!noop.committed && noop.filesCopied === 0)
      assert(Layout.currentGeneration(spark, d) === 3L)
      // stale OCC expectation refuses with the retryable type
      intercept[java.util.ConcurrentModificationException] {
        Layout.restoreSnapshot(spark, d, 1L, expectedGen = Some(2L))
      }
      // the clone is a standalone layout: same rows as gen 0, its own
      // manifest serves pruned reads, and mutating the SOURCE (even
      // vacuuming its history) cannot touch it
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "lang", "v").as[(Long, String, Long)]
          .collect().sortBy(_._1).toSeq
      assert(canon(spark.read.parquet(c)) ===
        canon(Layout.readSnapshot(spark, d, 0L)))
      assert(Layout.scanPruned(spark, c,
          Seq(Layout.KeyBox("doc_id", 10L, 20L))).count() === 11L)
      Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("doc_id", 0L, 99L)))
      Layout.vacuumGenerations(spark, d, retainLast = 1)
      assert(spark.read.parquet(c).count() === 100L)
      assert(canon(spark.read.parquet(c)).take(3) ===
        Seq((0L, "en", 0L), (1L, "fr", 10L), (2L, "en", 20L)))
      // a clone refuses to land on an existing directory
      val taken = intercept[IllegalArgumentException] {
        Layout.cloneSnapshot(spark, d, Layout.currentGeneration(spark, d), c)
      }
      assert(taken.getMessage.contains("already exists"))
      // a zero-file generation (everything deleted above) clones as a
      // readable EMPTY layout with its manifest in place
      val c2 = s"$dir/clone_empty"
      assert(Layout.cloneSnapshot(spark, d,
        Layout.currentGeneration(spark, d), c2) === 0L)
      assert(Layout.loadManifest(spark, c2).count() === 0L)
    }
  }

  test("withGenerationRetry: a lost commit race re-reads and retries; exhaustion surfaces the last conflict") {
    import spark.implicits._
    withTempDir("graft_occretry_") { dir =>
      val d = s"$dir/t"
      (0L to 49L).map(k => (k, k)).toDF("k", "v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k")
        .write.parquet(d)
      Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      Layout.enableGenerations(spark, d)
      // first attempt loses: a rival commits between the read and the
      // verb; the retry re-reads the advanced generation and wins
      var attempts = 0
      val st = Layout.withGenerationRetry(spark, d) { g =>
        attempts += 1
        if (attempts == 1)
          Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("k", 0L, 4L)))
        Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("k", 10L, 14L)),
          expectedGen = Some(g))
      }
      assert(attempts === 2 && st.rowsDeleted === 5L)
      assert(spark.read.parquet(d).count() === 40L)
      assert(Layout.currentGeneration(spark, d) === 2L)
      // exhaustion: a body that always races out surfaces the count
      val lost = intercept[java.util.ConcurrentModificationException] {
        Layout.withGenerationRetry(spark, d, maxAttempts = 2) { g =>
          Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("k", 20L, 21L)))
          Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("k", 30L, 31L)),
            expectedGen = Some(g))
        }
      }
      assert(lost.getMessage.contains("all 2 attempts"))
    }
  }

  test("snapshot pins: vacuum refuses below a registered view pin, refresh advances it, force overrides") {
    import spark.implicits._
    import graft.ext.Ivm
    withTempDir("graft_pins_") { dir =>
      val base = s"$dir/t"
      val view = s"$dir/v"
      (0L to 99L).map(k => (k, k % 5, k)).toDF("k", "g", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k")
        .write.parquet(base)
      Layout.buildFileManifest(spark, base, Seq("k"))
        .write.mode("overwrite").parquet(s"$base/_graft_manifest")
      Layout.enableGenerations(spark, base)
      Ivm.createView(spark, base, view, Seq("g"), Seq("v"))
      assert(Layout.snapshotPins(spark, base) === Map(view -> 0L))
      // two commits leave the view's pin two generations behind
      Layout.deleteWhere(spark, base, Seq(Layout.KeyBox("k", 0L, 9L)))
      Layout.deleteWhere(spark, base, Seq(Layout.KeyBox("k", 10L, 19L)))
      // a vacuum that would cut below the pin refuses by consumer name
      val blocked = intercept[IllegalArgumentException] {
        Layout.vacuumGenerations(spark, base, retainLast = 1)
      }
      assert(blocked.getMessage.contains(view) &&
        blocked.getMessage.contains("pin"))
      // nothing was deleted: the pinned snapshot still reads
      assert(Layout.readSnapshot(spark, base, 0L).count() === 100L)
      // refreshing the view advances its pin; the same vacuum succeeds
      Ivm.refreshView(spark, view)
      assert(Layout.snapshotPins(spark, base) === Map(view -> 2L))
      val (mf, _) = Layout.vacuumGenerations(spark, base, retainLast = 1)
      assert(mf === 2)
      // and the refreshed view still serves ≡ the live recompute
      val got = Ivm.readView(spark, view).select("g", "cnt", "sum_v")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      val want = Ivm.aggregateOf(
          spark.read.parquet(base).select("g", "v"), Seq("g"), Seq("v"))
        .select("g", "cnt", "sum_v")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got === want)
      // force overrides a live pin (the escape hatch, loud in the doc)
      Layout.deleteWhere(spark, base, Seq(Layout.KeyBox("k", 20L, 29L)))
      Layout.vacuumGenerations(spark, base, retainLast = 1, force = true)
      val gone = intercept[IllegalArgumentException] {
        Ivm.refreshView(spark, view)
      }
      assert(gone.getMessage.contains("vacuum"))
      // unregister clears the (now stale) pin
      Layout.unregisterSnapshotPin(spark, base, view)
      assert(Layout.snapshotPins(spark, base) === Map.empty)
    }
  }

  test("graft reader on a partitioned layout: live reads recover partition columns; mixed-anchor snapshots refuse by name") {
    import spark.implicits._
    withTempDir("graft_readerp_") { dir =>
      val d = s"$dir/t"
      (0L to 99L).map(k => (k, if (k % 2 == 0) "en" else "fr", k))
        .toDF("k", "lang", "v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k")
        .write.partitionBy("lang").parquet(d)
      Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      Layout.enableGenerations(spark, d)
      // live read: one anchor (the dir itself) — partition columns
      // re-derive through the injected basePath
      val live = spark.read.format("graft").load(d)
      assert(live.columns.contains("lang"))
      assert(live.groupBy("lang").count().as[(String, Long)]
        .collect().sortBy(_._1).toSeq === Seq(("en", 50L), ("fr", 50L)))
      // predicate pushdown reaches the parquet scan through the reader
      assert(live.filter(col("k") < 10L).count() === 10L)
      // a delete retires files: generation 0 now spans the live dir
      // AND a retirement label — a MIXED snapshot, served through the
      // optimizer substitution (the placeholder relation is replaced
      // by readSnapshot's per-anchor union), partition columns intact
      // across anchors
      Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("k", 0L, 29L)))
      val mixed = spark.read.format("graft")
        .option("versionAsOf", "0").load(d)
      assert(mixed.count() === 100L)
      assert(mixed.groupBy("lang").count().as[(String, Long)]
        .collect().sortBy(_._1).toSeq === Seq(("en", 50L), ("fr", 50L)))
      // and a filtered mixed read stays exact (residual over the
      // substituted union)
      assert(mixed.filter(col("k") < 40L).count() === 40L)
      // the live generation still reads (files all live → one anchor)
      assert(spark.read.format("graft").load(d).count() === 70L)
      // and once the churn is FULLY retired under one label, a
      // single-anchor historical read would need every gen-0 file
      // retired — the flat-layout path (readSnapshot) covers the
      // general case, asserted equal on the live gen here
      assert(spark.read.format("graft")
          .option("versionAsOf", Layout.currentGeneration(spark, d).toString)
          .load(d).count() ===
        Layout.readSnapshot(spark, d,
          Layout.currentGeneration(spark, d)).count())
    }
  }

  test("changesBetweenTyped: null keys never pair; net-zero rewrites vanish from the typed feed") {
    import spark.implicits._
    withTempDir("graft_cdftyped_") { dir =>
      val d = s"$dir/t"
      // a null-keyed row sits in the rewritten band: its delete and
      // the re-inserted null row must surface as delete+insert, never
      // an update pair (SQL equality)
      (Seq((Some(1L), "a", 10L), (Some(2L), "b", 20L),
        (Option.empty[Long], "c", 30L), (Some(4L), "d", 40L)))
        .toDF("k", "s", "v")
        .repartition(1).write.parquet(d)
      Layout.buildFileManifest(spark, d, Seq("v"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      Layout.enableGenerations(spark, d)
      // one commit rewrites the single file: drop v=20, keep the rest
      // (survivors are net-zero ±1 pairs), and separately append an
      // update pair for k=4 plus a fresh null-keyed row
      Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("v", 15L, 25L)))
      Layout.upsertByKey(spark, d,
        Seq((Some(4L), "D2", 44L), (Option.empty[Long], "n2", 50L))
          .toDF("k", "s", "v"),
        "v") // key on v: 44 inserts, 50 inserts; k=4 old row still present
      val typed = Layout.changesBetweenTyped(spark, d, 0L,
        Layout.currentGeneration(spark, d), keys = Seq("k"))
        .collect().map(r => (Option(r.get(0)).map(_.toString).getOrElse("∅"),
          r.getString(1), r.getLong(2), r.getInt(3), r.getString(4)))
        .sortBy(t => (t._3, t._4)).toSeq
      // survivors (10, 30, 40) net out entirely; v=20 is a delete;
      // the two appends are inserts — but k=4 now has BOTH a net
      // insert (44) and its old row... no net delete, so NO update
      // pairing; the null-keyed insert types insert even though a
      // null-keyed delete... there is none here
      assert(typed === Seq(
        ("2", "b", 20L, -1, "delete"),
        ("4", "D2", 44L, 1, "insert"),
        ("∅", "n2", 50L, 1, "insert")))
      // now a second span with a REAL null-key delete+insert: they
      // must stay delete+insert, not update_pre/postimage
      val g1 = Layout.currentGeneration(spark, d)
      Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("v", 30L, 30L)))
      Layout.appendWithManifest(
        Seq((Option.empty[Long], "c9", 31L)).toDF("k", "s", "v")
          .repartition(1), d, Seq("v"))
      val typed2 = Layout.changesBetweenTyped(spark, d, g1,
        Layout.currentGeneration(spark, d), keys = Seq("k"))
        .collect().map(r => (r.getLong(2), r.getInt(3), r.getString(4)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(typed2 === Seq((30L, -1, "delete"), (31L, 1, "insert")),
        "null keys must never pair into an update")
      // and a genuine same-key update DOES pair
      val g2 = Layout.currentGeneration(spark, d)
      Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("v", 44L, 44L)))
      Layout.appendWithManifest(
        Seq((Some(4L), "D3", 45L)).toDF("k", "s", "v").repartition(1),
        d, Seq("v"))
      val typed3 = Layout.changesBetweenTyped(spark, d, g2,
        Layout.currentGeneration(spark, d), keys = Seq("k"))
        .collect().map(r => (r.getLong(2), r.getString(4)))
        .sortBy(_._1).toSeq
      assert(typed3 === Seq((44L, "update_preimage"),
        (45L, "update_postimage")))
    }
  }

  test("vacuumGenerationsOlderThan: age-based retention off the commit records") {
    import spark.implicits._
    withTempDir("graft_agevac_") { dir =>
      val d = s"$dir/t"
      (0L to 39L).map(k => (k, k)).toDF("k", "v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k")
        .write.parquet(d)
      Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      Layout.enableGenerations(spark, d)
      Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("k", 0L, 9L)))
      Thread.sleep(2)
      val mid = System.currentTimeMillis()
      Thread.sleep(2)
      Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("k", 10L, 19L)))
      Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("k", 20L, 24L)))
      // cutoff = mid keeps the generations committed at/after it
      // (2, 3) — retention is a contiguous suffix, never a sieve
      val (mf, _) = Layout.vacuumGenerationsOlderThan(spark, d, mid)
      assert(mf === 2)
      assert(Layout.readSnapshot(spark, d, 2L).count() === 20L)
      val gone = intercept[IllegalArgumentException] {
        Layout.readSnapshot(spark, d, 1L)
      }
      assert(gone.getMessage.contains("vacuum"))
      // a future cutoff drops every archived generation but can never
      // strand the live one
      val (mf2, _) = Layout.vacuumGenerationsOlderThan(spark, d,
        System.currentTimeMillis() + 3600000L)
      assert(mf2 === 1)
      assert(spark.read.parquet(d).count() === 15L)
      assert(Layout.currentGeneration(spark, d) === 3L)
      // idempotent on an already-trimmed store
      assert(Layout.vacuumGenerationsOlderThan(spark, d, 0L) === ((0, 0)))
    }
  }

  test("dropColumn: logical drop is immediate and zero-I/O; optimize materializes and frees the name") {
    import spark.implicits._
    withTempDir("graft_drop_") { dir =>
      val d = s"$dir/t"
      (0L to 49L).map(k => (k, s"s$k", k * 2, k % 5))
        .toDF("k", "label", "v", "extra")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k")
        .write.parquet(d)
      Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      Layout.dropColumn(spark, d, "label")
      // immediate for every sidecar-resolved reader, no data I/O
      assert(Layout.readLayout(spark, d).columns.toSeq ===
        Seq("k", "v", "extra"))
      assert(Layout.scanPruned(spark, d, Seq(Layout.KeyBox("k", 10L, 19L)))
        .columns.toSeq === Seq("k", "v", "extra"))
      assert(Layout.readLayout(spark, d).agg(sum("v")).head.getLong(0)
        === (0L to 49L).map(_ * 2).sum)
      // guards: manifest key, missing column
      assert(intercept[IllegalArgumentException] {
        Layout.dropColumn(spark, d, "k")
      }.getMessage.contains("manifest key"))
      assert(intercept[IllegalArgumentException] {
        Layout.dropColumn(spark, d, "label")
      }.getMessage.contains("no column"))
      // re-adding the dropped name via mergeSchema is refused — old
      // files still hold its values
      val readd = intercept[IllegalArgumentException] {
        Layout.appendWithManifest(
          Seq((100L, 1L, 1L, "ghost")).toDF("k", "v", "extra", "label")
            .repartition(1), d, Seq("k"), mergeSchema = true)
      }
      assert(readd.getMessage.contains("DROPPED"))
      // a second drop stacks; appends of the surviving shape work
      Layout.dropColumn(spark, d, "extra")
      Layout.appendWithManifest(
        Seq((100L, 7L)).toDF("k", "v").repartition(1), d, Seq("k"))
      assert(Layout.readLayout(spark, d).columns.toSeq === Seq("k", "v"))
      assert(Layout.readLayout(spark, d).count() === 51L)
      // optimize materializes: the rewritten files physically lack the
      // columns, the sidecars retire, and the names are free again
      val st = Layout.optimize(spark, d, files = 2, force = true)
      assert(st.reclustered)
      assert(spark.read.parquet(d).columns.toSeq === Seq("k", "v"))
      val fsys = new org.apache.hadoop.fs.Path(d)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fsys.exists(new org.apache.hadoop.fs.Path(
        s"$d/_graft_dropped.json")))
      Layout.appendWithManifest(
        Seq((101L, 1L, "back")).toDF("k", "v", "label").repartition(1),
        d, Seq("k"), mergeSchema = true)
      assert(Layout.readLayout(spark, d).columns.toSeq ===
        Seq("k", "v", "label"))
      // partition columns cannot drop
      val dp = s"$dir/part"
      (0L to 9L).map(k => (k, if (k % 2 == 0) "en" else "fr", k))
        .toDF("k", "lang", "v")
        .write.partitionBy("lang").parquet(dp)
      Layout.buildFileManifest(spark, dp, Seq("k"))
        .write.mode("overwrite").parquet(s"$dp/_graft_manifest")
      assert(intercept[IllegalArgumentException] {
        Layout.dropColumn(spark, dp, "lang")
      }.getMessage.contains("partition column"))
    }
  }

  test("describeLayout: one-row DESCRIBE DETAIL off the manifest and sidecars") {
    import spark.implicits._
    withTempDir("graft_desc_") { dir =>
      val d = s"$dir/t"
      (0L to 39L).map(k => (k, if (k % 2 == 0) "en" else "fr", k))
        .toDF("k", "lang", "v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k")
        .write.partitionBy("lang").parquet(d)
      Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      val before = Layout.describeLayout(spark, d).head()
      assert(before.getAs[Long]("n_rows") === 40L)
      assert(before.getAs[Long]("n_files") >= 2L)
      assert(before.getAs[Seq[String]]("keys") === Seq("k"))
      assert(before.getAs[Seq[String]]("partition_cols") === Seq("lang"))
      assert(!before.getAs[Boolean]("generations_enabled"))
      assert(before.isNullAt(before.fieldIndex("generation")))
      assert(!before.getAs[Boolean]("schema_evolved"))
      Layout.enableGenerations(spark, d)
      Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("k", 0L, 9L)))
      val after = Layout.describeLayout(spark, d).head()
      assert(after.getAs[Long]("n_rows") === 30L)
      assert(after.getAs[Boolean]("generations_enabled"))
      assert(after.getAs[Long]("generation") === 1L)
      assert(after.getAs[Long]("oldest_gen") === 0L)
    }
  }

  test("updateWhere: in-place transform on a partitioned layout; partition-column SET refuses") {
    import graft.ext.Layout
    withTempDir("graft_upd_part_") { dir =>
      val d = s"$dir/t"
      (0L to 199L).map(k => (k, if (k % 2 == 0) "en" else "fr", k))
        .toDF("k", "lang", "v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k")
        .write.partitionBy("lang").parquet(d)
      Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      // a partition-column box narrows via residual; updates route
      // back into their k=v leaves through partitionBy
      val st = Layout.updateWhere(spark, d,
        Seq(Layout.KeyBox("k", 50L, 99L)),
        Seq("v" -> (col("v") + 1000000L)))
      assert(st.rowsUpdated === 50L, s"$st")
      val back = spark.read.parquet(d)
      assert(back.filter(col("k").between(50, 99) &&
        col("v") === col("k") + 1000000L).count() === 50L)
      assert(back.filter(col("k") < 50L && col("v") === col("k"))
        .count() === 50L, "rows below the box stay verbatim")
      assert(back.filter(col("lang").isin("en", "fr")).count() === 200L,
        "partition routing must keep every row in a k=v leaf")
      // pruning stays exact after the patch
      assert(Layout.countWhere(spark, d,
        Seq(Layout.KeyBox("k", 0L, 199L))) === 200L)
      // SET on a partition column refuses by name
      val e = intercept[IllegalArgumentException] {
        Layout.updateWhere(spark, d, Seq(Layout.KeyBox("k", 0L, 9L)),
          Seq("lang" -> lit("de")))
      }
      assert(e.getMessage.contains("partition column"), e.getMessage)
      // unknown SET column refuses by name
      val e2 = intercept[IllegalArgumentException] {
        Layout.updateWhere(spark, d, Seq(Layout.KeyBox("k", 0L, 9L)),
          Seq("nope" -> lit(1L)))
      }
      assert(e2.getMessage.contains("not a column"), e2.getMessage)
      // a disjoint box touches nothing and leaves the layout
      // byte-identical
      val names = spark.read.parquet(d).inputFiles.toSet
      val st2 = Layout.updateWhere(spark, d,
        Seq(Layout.KeyBox("k", 500L, 600L)), Seq("v" -> lit(0L)))
      assert(st2.rowsUpdated === 0L && st2.filesRewritten === 0, s"$st2")
      assert(spark.read.parquet(d).inputFiles.toSet === names)
    }
  }

  test("CDF and MV refresh compose across a restore commit") {
    import graft.ext.Ivm
    import spark.implicits._
    withTempDir("graft_restore_cdf_") { dir =>
      val d = s"$dir/t"
      val v = s"$dir/v"
      (0L to 59L).map(k => (k, k % 4, k * 3)).toDF("k", "g", "v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k")
        .write.parquet(d)
      Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      Layout.enableGenerations(spark, d)
      Ivm.createView(spark, d, v, Seq("g"), Seq("v"))
      // delete (gen 1), then RESTORE it away (gen 2): the refresh span
      // crosses both, and the net feed must reconstruct the restored
      // copies as inserts against the deleted originals' deletes
      Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("k", 0L, 29L)))
      val st = Layout.restoreSnapshot(spark, d, 0L)
      assert(st.committed && Layout.currentGeneration(spark, d) === 2L)
      val r = Ivm.refreshView(spark, v)
      assert(r.refreshed && r.toGen === 2L)
      def gcanon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
        df.select("g", "cnt", "sum_v").as[(Long, Long, Long)]
          .collect().sortBy(_._1).toSeq
      assert(gcanon(Ivm.readView(spark, v)) === gcanon(
        Ivm.aggregateOf(spark.read.parquet(d).select("g", "v"),
          Seq("g"), Seq("v"))))
      // applying the gen1→gen2 feed (the restore span alone) to the
      // gen-1 aggregate must reconstruct the restored truth
      val s1 = Ivm.aggregateOf(
        Layout.readSnapshot(spark, d, 1L).select("g", "v"),
        Seq("g"), Seq("v"))
      val feed = Layout.changesBetween(spark, d, 1L, 2L)
        .select("g", "v", "op")
      assert(gcanon(Ivm.maintainAgg(s1, feed, Seq("g"), Seq("v"))) ===
        gcanon(Ivm.aggregateOf(spark.read.parquet(d).select("g", "v"),
          Seq("g"), Seq("v"))))
    }
  }

  test("partitioned generations: snapshots re-derive partition columns for retired files; CDF, MV, history and optimize span the tree") {
    import graft.ext.Ivm
    import spark.implicits._
    withTempDir("graft_pgen_") { dir =>
      val d = s"$dir/t"
      val docs = (0L to 99L)
        .map(k => (k, if (k % 2 == 0) "en" else "fr", k * 10))
        .toDF("doc_id", "lang", "v")
      docs.repartitionByRange(2, col("doc_id")).sortWithinPartitions("doc_id")
        .write.partitionBy("lang").parquet(d)
      Layout.buildFileManifest(spark, d, Seq("doc_id"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      Layout.enableGenerations(spark, d)
      // gen 1: delete a doc_id band spanning BOTH partitions;
      // gen 2: CDC upsert that MOVES row 30 to a new partition (de)
      Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("doc_id", 0L, 24L)))
      Layout.upsertByKey(spark, d,
        Seq((30L, "de", 999L)).toDF("doc_id", "lang", "v"), "doc_id")
      assert(Layout.currentGeneration(spark, d) === 2L)
      // the live read reflects both commits
      assert(spark.read.parquet(d).count() === 75L)
      assert(spark.read.parquet(d).filter(col("doc_id") === 30L)
        .select("lang", "v").as[(String, Long)].collect().toSeq
        === Seq(("de", 999L)))
      // generation 0 reads the UNMUTATED tree — deleted-band rows and
      // the pre-move row 30 resolve from retirement WITH their
      // partition column re-derived from the preserved k=v chain
      val snap0 = Layout.readSnapshot(spark, d, 0L)
      assert(snap0.count() === 100L)
      assert(snap0.filter(col("doc_id") === 30L)
        .select("lang", "v").as[(String, Long)].collect().toSeq
        === Seq(("en", 300L)))
      assert(snap0.groupBy("lang").count().as[(String, Long)]
        .collect().sortBy(_._1).toSeq === Seq(("en", 50L), ("fr", 50L)))
      // time-traveled PRUNED read over the deleted band
      assert(Layout.readSnapshot(spark, d, 0L,
        Seq(Layout.KeyBox("doc_id", 0L, 24L))).count() === 25L)
      // CDF across both commits maintains a lang-grouped view to the
      // gen-2 recompute — partition columns ARE the group keys here,
      // so the feed must carry them correctly for retired files too
      def gcanon(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
        df.select("lang", "cnt", "sum_v").as[(String, Long, Long)]
          .collect().sortBy(_._1).toSeq
      val state0 = Ivm.aggregateOf(snap0.select("lang", "v"),
        Seq("lang"), Seq("v"))
      val feed = Layout.changesBetween(spark, d, 0L, 2L)
      val maintained = Ivm.maintainAgg(state0,
        feed.select("lang", "v", "op"), Seq("lang"), Seq("v"))
      assert(gcanon(maintained) === gcanon(Ivm.aggregateOf(
        Layout.readSnapshot(spark, d, 2L).select("lang", "v"),
        Seq("lang"), Seq("v"))))
      // history: the delete nets −25, the single-row update nets 0
      val hist = Layout.describeHistory(spark, d)
        .select("gen", "net_rows").as[(Long, Long)].collect()
        .sortBy(_._1).toSeq
      assert(hist === Seq((1L, -25L), (2L, 0L)))
      // a persisted MV over the partitioned base refreshes through an
      // append (gen 3)
      val v = s"$dir/v"
      Ivm.createView(spark, d, v, Seq("lang"), Seq("v"))
      Layout.appendWithManifest(
        Seq((200L, "en", 7L), (201L, "fr", 8L)).toDF("doc_id", "lang", "v")
          .repartition(1), d, Seq("doc_id"))
      val r = Ivm.refreshView(spark, v)
      assert(r.refreshed && r.toGen === 3L)
      assert(gcanon(Ivm.readView(spark, v)) === gcanon(Ivm.aggregateOf(
        spark.read.parquet(d).select("lang", "v"), Seq("lang"), Seq("v"))))
      // leaf-selective OPTIMIZE on the TRACKED tree retires, never
      // deletes: generation 2 stays fully readable afterwards
      val before = spark.read.parquet(d).inputFiles.toSet
      val st = Layout.optimize(spark, d, files = 1,
        force = true)
      assert(st.reclustered, st.toString)
      assert(Layout.readSnapshot(spark, d, 2L).count() === 75L)
      assert(Layout.readSnapshot(spark, d, 2L)
        .filter(col("doc_id") === 30L).select("lang").as[String]
        .collect().toSeq === Seq("de"))
      // live pruned read still exact over the optimized tree
      assert(Layout.scanPruned(spark, d,
          Seq(Layout.KeyBox("doc_id", 25L, 40L))).count() ===
        spark.read.parquet(d)
          .filter(col("doc_id").between(25L, 40L)).count())
      // vacuum to the live generation only: old snapshots die loudly,
      // the live read is untouched (forced past the MV's registered
      // pin — the pin coordination has its own test)
      val (mf, fd) = Layout.vacuumGenerations(spark, d, retainLast = 1,
        force = true)
      assert(mf >= 3 && fd >= 1, s"($mf, $fd)")
      val gone = intercept[IllegalArgumentException] {
        Layout.readSnapshot(spark, d, 0L)
      }
      assert(gone.getMessage.contains("vacuum"))
      assert(spark.read.parquet(d).count() === 77L)
      assert(Layout.currentGeneration(spark, d) === 4L,
        "full vacuum reset the partitioned generation counter")
    }
  }

  test("changesBetween: file-diff CDF feeds IVM to the later snapshot; shared files never open") {
    import graft.ext.Ivm
    import spark.implicits._
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.select("g", "cnt", "sum_v").as[(Long, Long, Long)]
        .collect().sortBy(_._1).toSeq
    withTempDir("graft_cdf_") { dir =>
      val d = s"$dir/t"
      (0L to 99L).map(k => (k, k % 7, k * 10)).toDF("k", "g", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k")
        .write.mode("overwrite").parquet(d)
      Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      Layout.enableGenerations(spark, d)
      // gen 1: delete the low band (drops/rewrites the low files);
      // gen 2: CDC upsert — one UPDATE (k=30) and one INSERT (k=200)
      Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("k", 0L, 24L)))
      Layout.upsertByKey(spark, d,
        Seq((30L, 30L % 7, 999L), (200L, 200L % 7, 5L)).toDF("k", "g", "v"),
        "k")
      assert(Layout.currentGeneration(spark, d) === 2L)

      // the feed's plan must touch ONLY differing files — a file both
      // generations share contributes nothing and never opens
      val feed = Layout.changesBetween(spark, d, 0L, 2L)
      val shared = Layout.readSnapshot(spark, d, 0L).inputFiles.toSet
        .intersect(Layout.readSnapshot(spark, d, 2L).inputFiles.toSet)
      assert(shared.nonEmpty, "fixture must keep at least one file unchanged")
      assert(feed.inputFiles.toSet.intersect(shared).isEmpty,
        "the feed opened a file both generations share")

      // bootstrap at gen 0 + ONE spanning feed ≡ recompute at gen 2
      val state0 = Ivm.aggregateOf(
        Layout.readSnapshot(spark, d, 0L).select("g", "v"),
        Seq("g"), Seq("v"))
      val maintained = Ivm.maintainAgg(
        state0, feed.select("g", "v", "op"), Seq("g"), Seq("v"))
      val recompute = Ivm.aggregateOf(
        Layout.readSnapshot(spark, d, 2L).select("g", "v"),
        Seq("g"), Seq("v"))
      assert(canon(maintained) === canon(recompute))

      // adjacent feeds COMPOSE: stepping 0→1→2 equals the span 0→2
      val viaSteps = Ivm.maintainAgg(
        Ivm.maintainAgg(state0,
          Layout.changesBetween(spark, d, 0L, 1L).select("g", "v", "op"),
          Seq("g"), Seq("v")),
        Layout.changesBetween(spark, d, 1L, 2L).select("g", "v", "op"),
        Seq("g"), Seq("v"))
      assert(canon(viaSteps) === canon(maintained))

      // an OPTIMIZE generation rewrites data-identical files: its
      // feed is matched ±1 pairs, and maintenance across it is a
      // provable no-op on the state
      val gBefore = Layout.currentGeneration(spark, d)
      val st = Layout.optimize(spark, d, files = 2, force = true)
      assert(st.reclustered, st.toString)
      val gAfter = Layout.currentGeneration(spark, d)
      assert(gAfter > gBefore)
      val churn = Layout.changesBetween(spark, d, gBefore, gAfter)
      assert(churn.count() > 0L, "an optimize rewrite should churn files")
      val across = Ivm.maintainAgg(
        maintained, churn.select("g", "v", "op"), Seq("g"), Seq("v"))
      assert(canon(across) === canon(maintained))

      // contracts: reversed bounds, op-column collision, empty span
      val rev = intercept[IllegalArgumentException] {
        Layout.changesBetween(spark, d, 2L, 0L)
      }
      assert(rev.getMessage.contains("genFrom"))
      val clash = intercept[IllegalArgumentException] {
        Layout.changesBetween(spark, d, 0L, 1L, opCol = "v")
      }
      assert(clash.getMessage.contains("already carries"))
      val empty = Layout.changesBetween(spark, d, 1L, 1L)
      assert(empty.count() === 0L && empty.columns.contains("op"))
    }
  }

  test("describeHistory: commit log off the manifests — appends, whole-file deletes, rewrite-only commits") {
    import spark.implicits._
    withTempDir("graft_hist_") { dir =>
      val d = s"$dir/t"
      (0L to 99L).map(k => (k, k)).toDF("k", "v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k")
        .write.mode("overwrite").parquet(d)
      Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      Layout.enableGenerations(spark, d)
      // gen 1: append one 10-row file; gen 2: delete the [0,49] file
      // whole (manifest-proved, no partial rewrite); gen 3: forced
      // OPTIMIZE — a rewrite-only commit
      Layout.appendWithManifest(
        (100L to 109L).map(k => (k, k)).toDF("k", "v").repartition(1),
        d, Seq("k"))
      Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("k", 0L, 49L)))
      val st = Layout.optimize(spark, d, files = 2, force = true)
      assert(st.reclustered, st.toString)
      val h = Layout.describeHistory(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSeq.sortBy(_._1)
      assert(h.map(_._1) === Seq(1L, 2L, 3L))
      assert(h(0) === ((1L, 1L, 0L, 10L, 0L, 10L)),
        s"append row misread: ${h(0)}")
      assert(h(1) === ((2L, 0L, 1L, 0L, 50L, -50L)),
        s"whole-file delete row misread: ${h(1)}")
      val (_, fa3, fr3, ra3, rr3, net3) = h(2)
      assert(net3 === 0L && fa3 > 0L && fr3 > 0L && ra3 === rr3,
        s"rewrite-only commit must show churn with zero net: ${h(2)}")
      // vacuum shrinks the describable window from the OLDEST side:
      // dropped manifests take their transitions with them
      Layout.vacuumGenerations(spark, d, retainLast = 2)
      assert(Layout.describeHistory(spark, d)
        .select("gen").as[Long].collect().toSeq.sorted === Seq(3L))
      // an untracked layout has no history to describe
      val plain = s"$dir/plain"
      (0L to 9L).map(k => (k, k)).toDF("k", "v")
        .write.mode("overwrite").parquet(plain)
      Layout.buildFileManifest(spark, plain, Seq("k"))
        .write.mode("overwrite").parquet(s"$plain/_graft_manifest")
      val untracked = intercept[IllegalArgumentException] {
        Layout.describeHistory(spark, plain)
      }
      assert(untracked.getMessage.contains("generation-tracked"))
    }
  }

  test("minMaxFromManifest: metadata extremes track delete and upsert") {
    withTempDir("graft_minmax_") { dir =>
      val d = s"$dir/t"
      (0L to 99L).map(k => (k, k)).toDF("k", "v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k")
        .write.mode("overwrite").parquet(d)
      Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      def mm(): (Long, Long) = {
        val r = Layout.minMaxFromManifest(spark, d, "k").collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      assert(mm() === ((0L, 99L)))
      // a delete REMOVES the current minimum band — the classic
      // non-maintainable case Ivm documents; the manifest's patched
      // stats re-derive the runner-up without a scan
      Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("k", 0L, 9L)))
      assert(mm() === ((10L, 99L)))
      // an upsert INSERTS past the old maximum
      Layout.upsertByKey(spark, d, Seq((500L, 1L)).toDF("k", "v"), "k")
      assert(mm() === ((10L, 500L)))
      assert(mm() ===
        (spark.read.parquet(d).agg(min("k"), max("k")).as[(Long, Long)]
          .collect()(0)), "metadata extremes diverged from recompute")
      // a key the manifest does not track is refused loudly
      val e = intercept[IllegalArgumentException] {
        Layout.minMaxFromManifest(spark, d, "v")
      }
      assert(e.getMessage.contains("no stats"))
    }
  }

  test("countWhere: proved files count from metadata alone, ambiguity is scanned") {
    withTempDir("graft_count_") { dir =>
      val d = s"$dir/t"
      def part(rows: Seq[(Option[Long], Long)]): Unit =
        rows.toDF("k", "v").repartition(1).write.mode("append").parquet(d)
      part((0L to 99L).map(k => (Some(k), k)))     // covered, no nulls
      part((120L to 200L).map(k => (Some(k), k)))  // partial → scanned
      part((300L to 400L).map(k => (Some(k), k)))  // disjoint → 0
      part((10L to 50L).map(k => (Some(k), k)) ++  // covered + nulls:
        Seq((None, 9001L), (None, 9002L)))         //   n_rows - nulls, unopened
      Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      val full = spark.read.parquet(d)
      val expect = full.filter(col("k").between(0, 150)).count()
      assert(Layout.countWhere(spark, d, Seq(Layout.KeyBox("k", 0L, 150L)))
        === expect) // 100 + 31 + 41 = 172
      // proof that proved files are NEVER OPENED: remove the covered
      // files' data from disk (manifest row intact) — the metadata
      // count still answers, because only the partial file is read.
      // (verifyCoverage off: the check itself lists the directory.)
      val mf = Layout.loadManifest(spark, d).collect()
        .map(r => r.getAs[Long]("min_k") -> r.getAs[String]("file")).toMap
      val fs = new org.apache.hadoop.fs.Path(d)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      for (m <- Seq(0L, 10L, 300L))
        fs.delete(new org.apache.hadoop.fs.Path(new java.net.URI(mf(m))), false)
      assert(Layout.countWhere(spark, d, Seq(Layout.KeyBox("k", 0L, 150L)),
        verifyCoverage = false) === expect,
        "countWhere opened a file it had already proved")
    }
  }

  test("appendWithManifest tolerates a long-typed partition column inferred as int") {
    withTempDir("graft_append_intpart_") { dir =>
      val d = s"$dir/t"
      // the writer's `day` is LongType, but hive path-string
      // inference reports IntegerType on re-read — the schema check
      // must compare partition columns across the integral family or
      // every legitimate append to an integer-partitioned layout dies
      val rows = (0L to 99L).map(k => (k, k % 3)).toDF("v", "day")
      rows.filter(col("v") < 50).write.partitionBy("day")
        .mode("overwrite").parquet(d)
      Layout.buildFileManifest(spark, d, Seq("day", "v"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      Layout.appendWithManifest(rows.filter(col("v") >= 50), d, Seq("day", "v"))
      val back = spark.read.parquet(d)
      assert(back.count() === 100L)
      // delta stats carried the partition key (via basePath), so a
      // partition-keyed pruned read over old + new rows stays exact
      val pruned = Layout.scanPruned(spark, d,
        Seq(Layout.KeyBox("day", 1L, 1L)))
      assert(pruned.count() === back.filter(col("day") === 1).count())
      // data columns are still strict: a retyped non-key column is
      // refused even on a partitioned layout
      intercept[IllegalArgumentException] {
        Layout.appendWithManifest(
          rows.withColumn("v", col("v").cast("string")), d, Seq("day", "v"))
      }
    }
  }

  test("streaming ingest loop: foreachBatch appendWithManifest keeps pruned reads exact per batch") {
    withTempDir("graft_stream_ingest_") { dir =>
      val d = s"$dir/t"
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_suppkey")
      // batch 0 seeds the clustered layout + manifest; the stream
      // then appends micro-batches through the SAME delta-only patch
      // path a 100 TB ingest would use (no re-scan of existing data)
      Layout.write(li.filter(col("l_orderkey") % 4 === 0), d,
        Seq(col("l_partkey"), col("l_suppkey")), files = 4,
        manifestKeys = Seq("l_partkey", "l_suppkey"))
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val in = MemoryStream[(Long, Long, Long)]
      var seen = li.filter(col("l_orderkey") % 4 === 0).count()
      val q = in.toDF()
        .toDF("l_orderkey", "l_partkey", "l_suppkey")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          Layout.appendWithManifest(batch, d, Seq("l_partkey", "l_suppkey"))
        }
        .start()
      try {
        for (r <- 1L to 3L) {
          val rows = li.filter(col("l_orderkey") % 4 === r)
            .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
          in.addData(rows.toIndexedSeq)
          q.processAllAvailable()
          seen += rows.length
          // after EVERY micro-batch: coverage holds (no uncovered
          // files — the default verifyCoverage would throw) and the
          // pruned read still equals the full-scan filter
          val pruned = Layout.scanPruned(spark, d,
            Seq(Layout.KeyBox("l_partkey", 20L, 60L)))
          val full = spark.read.parquet(d)
          assert(full.count() === seen)
          assert(pruned.select("l_orderkey").as[Long].collect().sorted.toSeq ===
            full.filter(col("l_partkey").between(20, 60))
              .select("l_orderkey").as[Long].collect().sorted.toSeq,
            s"pruned ≠ full after batch $r")
        }
      } finally q.stop()
      // the appends degraded clustering one wide file at a time; the
      // depth trigger sees it off the SAME stored stats
      val mf = Layout.loadManifest(spark, d)
      assert(mf.count() > 4L, "appends did not add manifest rows")
    }
  }

  test("streaming CDC loop: foreachBatch upsertByKey applies last-writer-wins per micro-batch") {
    withTempDir("graft_stream_cdc_") { dir =>
      val d = s"$dir/t"
      // a keyed base table, range-clustered so point-keyed CDC
      // batches leave most files untouched
      (0L until 200L).map(k => (k, k)).toDF("k", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k")
        .write.mode("overwrite").parquet(d)
      Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val in = MemoryStream[(Long, Long, Long)] // (k, v, seq)
      val expected = scala.collection.mutable.Map(
        (0L until 200L).map(k => k -> k): _*)
      val q = in.toDF().toDF("k", "v", "seq")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          // a real CDC feed carries several updates per key per
          // micro-batch; the merge contract wants exactly one, so
          // the loop reduces to the LAST by sequence first — the
          // standard pre-merge dedup every CDC applier runs
          import org.apache.spark.sql.expressions.Window
          val latest = batch.withColumn("rn", row_number().over(
              Window.partitionBy("k").orderBy(col("seq").desc)))
            .filter(col("rn") === 1).select("k", "v")
          Layout.upsertByKey(spark, d, latest, "k")
          ()
        }.start()
      try {
        val batches = Seq(
          // in-batch duplicate for k=10 — seq 2 must win
          Seq((10L, 1000L, 1L), (10L, 1001L, 2L), (20L, 2000L, 1L)),
          // an insert past the key domain + a re-update
          Seq((500L, 5000L, 3L), (20L, 2001L, 4L)),
          // update the batch-2 insert, touch both domain edges
          Seq((10L, 1002L, 5L), (500L, 5010L, 6L), (0L, 9999L, 7L)))
        for ((rows, i) <- batches.zipWithIndex) {
          in.addData(rows)
          q.processAllAvailable()
          for ((k, v, _) <- rows.sortBy(_._3)) expected(k) = v
          val got = spark.read.parquet(d).collect()
            .map(r => r.getAs[Long]("k") -> r.getAs[Long]("v")).toMap
          assert(got === expected.toMap, s"state diverged after batch $i")
        }
      } finally q.stop()
      // after the loop the manifest still serves exact pruned reads
      // over keys that only ever existed as CDC inserts
      val pruned = Layout.scanPruned(spark, d,
        Seq(Layout.KeyBox("k", 490L, 520L)))
      assert(pruned.select("k").as[Long].collect().sorted.toSeq ===
        Seq(500L))
      assert(pruned.select("v").as[Long].head === 5010L)
    }
  }

  test("deleteWhere + append on a pre-nulls manifest: migrate, stay conservative") {
    withTempDir("graft_mf_migrate_") { dir =>
      val d = s"$dir/t"
      (0L to 99L).map(k => (Some(k), k)).toDF("k", "v")
        .repartition(1).write.mode("append").parquet(d)
      // simulate a manifest written before the per-key null-count
      // stats existed: build, strip nulls_k, store
      Layout.buildFileManifest(spark, d, Seq("k")).drop("nulls_k")
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      // append MIGRATES: old rows widen with unknown (null) counts,
      // the delta row carries real ones — strict union, no throw
      Layout.appendWithManifest(
        (200L to 299L).map(k => (Some(k), k)).toDF("k", "v").repartition(1),
        d, Seq("k"))
      val mf = Layout.loadManifest(spark, d)
      assert(mf.columns.contains("nulls_k"))
      assert(mf.filter(col("min_k") === 0L && col("nulls_k").isNull)
        .count() === 1L, "old-format row should carry UNKNOWN null count")
      assert(mf.filter(col("min_k") === 200L && col("nulls_k") === 0L)
        .count() === 1L, "delta row should carry a real null count")
      // delete a box covering BOTH files: the appended file is
      // PROVED deletable (nulls_k = 0) and drops unopened; the
      // old-format file's unknown count demotes it to the rewrite
      // path — conservative, never a wrong drop
      val st = Layout.deleteWhere(spark, d, Seq(Layout.KeyBox("k", 0L, 300L)))
      assert(st.filesDropped === 1, st.toString)
      assert(st.filesRewritten === 1, st.toString)
      assert(st.rowsDeleted === 200L, st.toString)
      assert(spark.read.parquet(d).count() === 0L)
    }
  }

  test("clusteringDepthBoundaries: exact string-domain depth; needsRecluster dispatches") {
    // hand-built stats frame — the profile reads only the manifest
    val mf = Seq(
      ("f1", 10L, Some("a"), Some("c"), 0L),
      ("f2", 10L, Some("b"), Some("d"), 0L),
      ("f3", 10L, Some("c"), Some("c"), 0L),
      ("f4", 10L, Some("f"), Some("g"), 0L),
      ("f5", 10L, None, None, 10L) // all-null key: carries no interval
    ).toDF("file", "n_rows", "min_lang", "max_lang", "nulls_lang")
    val profile = Layout.clusteringDepthBoundaries(mf, "lang")
    // every row is a real observed boundary — the close-past-max
    // bookkeeping rank must not surface as a phantom null value
    assert(profile.filter(col("value").isNull).count() === 0L)
    val got = profile
      .select("value", "depth").as[(String, Long)].collect().toMap
    // independent reference: depth(v) = |{files: min ≤ v ≤ max}|,
    // recomputed driver-side from the same stats
    val intervals = Seq(("a", "c"), ("b", "d"), ("c", "c"), ("f", "g"))
    val expect = intervals.flatMap(i => Seq(i._1, i._2)).distinct.map(v =>
      v -> intervals.count(i => i._1 <= v && v <= i._2).toLong).toMap
    assert(got === expect, s"got $got want $expect")
    // the trigger dispatches to the boundary sweep for string stats
    // instead of the integer sweep's loud rejection
    assert(Layout.needsRecluster(mf, "lang", maxDepth = 3L))
    assert(!Layout.needsRecluster(mf, "lang", maxDepth = 4L))
    // and over a REAL lang-clustered layout's stored manifest
    withTempDir("graft_strdepth_") { dir =>
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
        .select("doc_id", "lang")
        .repartitionByRange(4, col("lang")).sortWithinPartitions("lang")
      docs.write.mode("overwrite").parquet(s"$dir/docs")
      Layout.buildFileManifest(spark, s"$dir/docs", Seq("lang"))
        .write.mode("overwrite").parquet(s"$dir/docs/_graft_manifest")
      val stored = Layout.loadManifest(spark, s"$dir/docs")
      val prof = Layout.clusteringDepthBoundaries(stored, "lang")
      assert(prof.count() > 0)
      assert(prof.filter(col("value").isNull).count() === 0L)
      assert(Layout.needsRecluster(stored, "lang", maxDepth = 1L))
    }
  }

  test("normalizeBits: exact below the overflow cliff, monotone far beyond it") {
    // span 2^55: the naive (c - lo) * 65535 product overflows long
    // (and under ANSI would fail every clustered write loudly)
    val hi = 1L << 55
    val ks = Seq(0L, 1L << 30, 1L << 54, (1L << 55) - 1, 1L << 55)
    val got = ks.toDF("k")
      .select(Layout.normalizeBits(col("k"), 0L, hi, 16)).as[Long].collect()
    assert(got.head === 0L && got.last === 65535L, got.toSeq.toString)
    assert(got.toSeq === got.sorted.toSeq, s"not monotone: ${got.toSeq}")
    assert(got.forall(v => v >= 0L && v <= 65535L), got.toSeq.toString)
    // below the cliff the shift is zero and the arithmetic is
    // bit-identical to the naive published form
    val small = Seq(0L, 7L, 99L, 543L, 1000L)
    val g2 = small.toDF("k")
      .select(Layout.normalizeBits(col("k"), 0L, 1000L, 16)).as[Long].collect()
    assert(g2.toSeq === small.map(k => k * 65535L / 1000L))
    // a range outside the signed-long domain has no integer encoding
    intercept[IllegalArgumentException] {
      Layout.normalizeBits(col("k"), Long.MinValue, Long.MaxValue, 16)
    }
  }

  test("grand lifecycle: write → append → recluster → delete → compact, every verb exact") {
    withTempDir("graft_lifecycle_") { dir =>
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_suppkey")
      // 1. clustered write + stored stats over the first half
      Layout.write(li.filter(col("l_orderkey") % 2 === 0), s"$dir/t",
        Seq(col("l_partkey"), col("l_suppkey")), files = 8,
        manifestKeys = Seq("l_partkey", "l_suppkey"))
      // 2. day-2 append of the second half (delta-only stats patch)
      Layout.appendWithManifest(li.filter(col("l_orderkey") % 2 === 1),
        s"$dir/t", Seq("l_partkey", "l_suppkey"))
      assert(spark.read.parquet(s"$dir/t").count() === li.count())
      // 3. the unclustered append degrades depth; the trigger fires
      //    off the stored stats and the rewrite re-tightens
      val mf1 = Layout.loadManifest(spark, s"$dir/t")
      assert(Layout.needsRecluster(mf1, "l_partkey", maxDepth = 3L))
      Layout.write(spark.read.parquet(s"$dir/t"), s"$dir/t2",
        Seq(col("l_partkey"), col("l_suppkey")), files = 8,
        manifestKeys = Seq("l_partkey", "l_suppkey"))
      // 4. manifest-proved delete on the reclustered layout
      val st = Layout.deleteWhere(spark, s"$dir/t2",
        Seq(Layout.KeyBox("l_partkey", 1L, 40L)))
      val expect = li.filter(!col("l_partkey").between(1, 40))
      assert(st.rowsDeleted ===
        li.count() - expect.count(), st.toString)
      // 5. compaction carries the patched manifest forward
      Layout.compact(spark, s"$dir/t2", s"$dir/t3",
        targetBytes = Long.MaxValue)
      // 6-8. every consumer answers exactly on the final layout
      assert(Layout.countWhere(spark, s"$dir/t3",
          Seq(Layout.KeyBox("l_suppkey", 3L, 7L))) ===
        expect.filter(col("l_suppkey").between(3, 7)).count())
      val pruned = Layout.scanPruned(spark, s"$dir/t3",
        Seq(Layout.KeyBox("l_partkey", 50L, 90L)))
      assert(pruned.select("l_orderkey").as[Long].collect().sorted.toSeq ===
        expect.filter(col("l_partkey").between(50, 90))
          .select("l_orderkey").as[Long].collect().sorted.toSeq)
      val dim = (60L to 70L).toDF("p")
      val joined = Layout.joinPruned(spark, s"$dir/t3", dim, "l_partkey", "p")
      assert(joined.count() ===
        expect.join(dim, col("l_partkey") === col("p")).count())
      // 9. CDC merge: each update key's rows collapse to the one
      //    update row, a never-seen key inserts
      val upd = Seq((777777L, 60L, 1L), (777778L, 999999L, 2L))
        .toDF("l_orderkey", "l_partkey", "l_suppkey")
      val stUp = Layout.upsertByKey(spark, s"$dir/t3", upd, "l_partkey")
      assert(stUp.rowsUpserted === 2L, stUp.toString)
      val expect2 = expect.filter(!col("l_partkey").isin(60L, 999999L))
        .unionByName(upd)
      assert(spark.read.parquet(s"$dir/t3").count() === expect2.count())
      // 10. ADD COLUMN evolution; the pruned read spans the boundary
      Layout.appendWithManifest(
        Seq((888888L, 70L, 3L, "day3")).toDF(
          "l_orderkey", "l_partkey", "l_suppkey", "src"),
        s"$dir/t3", Seq("l_partkey", "l_suppkey"), mergeSchema = true)
      val ev = Layout.scanPruned(spark, s"$dir/t3",
        Seq(Layout.KeyBox("l_partkey", 60L, 80L)))
      assert(ev.columns.contains("src"))
      assert(ev.filter(col("src").isNotNull).count() === 1L)
      // 11. in-place OPTIMIZE finishes the evolution; the consumers
      //     stay exact on the final, thrice-churned layout
      val stOpt = Layout.optimize(spark, s"$dir/t3", files = 8, force = true)
      assert(stOpt.reclustered, stOpt.toString)
      val finalFull = spark.read.parquet(s"$dir/t3")
      assert(finalFull.count() === expect2.count() + 1L)
      assert(finalFull.columns.toSet ===
        Set("l_orderkey", "l_partkey", "l_suppkey", "src"))
      assert(Layout.countWhere(spark, s"$dir/t3",
          Seq(Layout.KeyBox("l_partkey", 60L, 80L))) ===
        finalFull.filter(col("l_partkey").between(60L, 80L)).count())
    }
  }

  test("writeZOrdered on an empty frame still writes a readable parquet dir") {
    val empty = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_partkey", "l_suppkey").filter(lit(false))
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder_empty_").toString
    try {
      // min/max bounds are null on zero rows — must not NPE; the
      // write contract (overwritten dir, same schema) still holds
      Layout.write(empty, dir,
        Seq(col("l_partkey"), col("l_suppkey")), files = 4)
      val back = spark.read.parquet(dir)
      assert(back.count() == 0)
      assert(back.columns.toSeq == Seq("l_partkey", "l_suppkey"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("manifest snapshots follow every rewrite of a manifest") {
    withTempDir("graft_snap_stale_") { root =>
      def mk(d: String, n: Long): Unit = {
        spark.range(n).select(col("id").as("k"), (col("id") * 3).as("v"))
          .repartitionByRange(4, col("k")).sortWithinPartitions("k")
          .write.mode("overwrite").parquet(d)
        Layout.buildFileManifest(spark, d, Seq("k"))
          .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      }
      def rows(n: Long) = spark.range(n).select(col("id").as("k"),
        (col("id") * 3).as("v"))
      def keys(df: org.apache.spark.sql.DataFrame): Seq[Long] =
        df.select("k").as[Long].collect().sorted.toSeq
      val all = Seq(Layout.KeyBox("k", 0L, Long.MaxValue))
      // tracked: a commit between two reads is visible to the second
      val t = s"$root/tracked"
      mk(t, 100L)
      Layout.enableGenerations(spark, t)
      assert(keys(Layout.scanPruned(spark, t, all)) == (0L until 100L))
      assert(keys(spark.read.format("graft").load(t)) == (0L until 100L))
      Layout.appendWithManifest(rows(110L).where(col("k") >= 100L), t, Seq("k"))
      assert(keys(Layout.scanPruned(spark, t, all)) == (0L until 110L))
      assert(keys(spark.read.format("graft").load(t)) == (0L until 110L))
      assert(keys(Layout.readSnapshot(spark, t, 0L)) == (0L until 100L))
      // untracked: an in-place deleteWhere patches the manifest with
      // no generation to bump, and the next scanPruned sees it
      val u = s"$root/untracked"
      mk(u, 100L)
      assert(keys(Layout.scanPruned(spark, u, all)) == (0L until 100L))
      Layout.deleteWhere(spark, u, Seq(Layout.KeyBox("k", 10L, 19L)))
      val kept = (0L until 100L).filter(k => k < 10L || k > 19L)
      assert(keys(Layout.scanPruned(spark, u, all)) == kept)
      // a manifest overwritten by hand is picked up
      Layout.buildFileManifest(spark, u, Seq("k", "v"))
        .write.mode("overwrite").parquet(s"$u/_graft_manifest")
      assert(Layout.storedKeys(spark, u).toSet == Set("k", "v"))
      assert(keys(Layout.scanPruned(spark, u,
        Seq(Layout.KeyBox("v", 0L, 30L)))) == (0L to 9L))
      // deleted and rebuilt at the same path: generation 0 names new
      // rows, and every read serves them
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))
      mk(t, 50L)
      Layout.enableGenerations(spark, t)
      assert(keys(Layout.scanPruned(spark, t, all)) == (0L until 50L))
      assert(keys(spark.read.format("graft").load(t)) == (0L until 50L))
      assert(keys(Layout.readSnapshot(spark, t, 0L)) == (0L until 50L))
      assert(spark.read.format("graft").load(t).count() == 50L)
      // a vacuumed generation still fails loudly, naming the vacuum
      Layout.appendWithManifest(rows(60L).where(col("k") >= 50L), t, Seq("k"))
      Layout.vacuumGenerations(spark, t, retainLast = 1)
      val e = intercept[IllegalArgumentException](
        Layout.readSnapshot(spark, t, 0L))
      assert(e.getMessage.contains("generation 0 of") &&
        e.getMessage.contains("has been vacuumed"), e.getMessage)
    }
  }

  test("the manifest snapshot cache holds at most its byte bound") {
    import graft.ext.ManifestSnapshot
    withTempDir("graft_snap_cache_") { root =>
      // four tables of 8 files each, bloom-indexed on b: every
      // manifest row carries an 8 KiB bitset
      val dirs = (0 until 4).map { i =>
        val d = s"$root/t$i"
        spark.range(0L, 80L, 1L, 8)
          .select(col("id").as("k"), (col("id") % 7L).as("b"))
          .write.parquet(d)
        Layout.buildFileManifest(spark, d, Seq("k", "b"), bloomKeys = Seq("b"))
          .write.mode("overwrite").parquet(s"$d/_graft_manifest")
        new org.apache.hadoop.fs.Path(s"$d/_graft_manifest")
      }
      val snaps = dirs.map(ManifestSnapshot.load(spark, _))
      assert(snaps.forall(_.isHeld))
      assert(snaps.forall(_.bytes > 8L * 8192L), snaps.map(_.bytes))
      // room for any two snapshots, never three
      val bound = snaps.map(_.bytes).sorted.takeRight(2).sum
      assert(snaps.map(_.bytes).sorted.take(3).sum > bound)
      val cache = new ManifestSnapshot.Cache(bound)
      snaps.zipWithIndex.foreach { case (s, i) =>
        assert(cache.getOrLoad(s"t$i")(s) eq s)
        assert(cache.heldBytes <= bound, s"held ${cache.heldBytes} of $bound bytes")
      }
      // the eldest two were evicted
      assert(cache.size == 2 && cache.heldBytes == snaps(2).bytes + snaps(3).bytes)
      assert(cache.getOrLoad("t3")(fail("t3 was evicted")) eq snaps(3))
      assert(cache.getOrLoad("t2")(fail("t2 was evicted")) eq snaps(2))
      var loads = 0
      cache.getOrLoad("t0") { loads += 1; snaps(0) }
      assert(loads == 1 && cache.size == 2 && cache.heldBytes <= bound)
      // t3 was used least recently, so t0's return evicted it
      cache.getOrLoad("t3") { loads += 1; snaps(3) }
      assert(loads == 2 && cache.size == 2 && cache.heldBytes <= bound)
      // a snapshot larger than the whole bound is served, never cached
      val tiny = new ManifestSnapshot.Cache(snaps(0).bytes - 1L)
      assert(tiny.getOrLoad("t0")(snaps(0)) eq snaps(0))
      assert(tiny.size == 0 && tiny.heldBytes == 0L)
      // a manifest over a cache's per-version bound is never collected:
      // the cache keeps its part-file list, and its frame reads the
      // same rows on the executors
      val small = new ManifestSnapshot.Cache(4L * snaps(0).bytes)
      val unheld = ManifestSnapshot.load(spark, dirs(0), small)
      assert(!unheld.isHeld && unheld.bytes < small.maxHeldBytes)
      assert(small.size == 1 && small.heldBytes == unheld.bytes)
      assert(ManifestSnapshot.load(spark, dirs(0), small) eq unheld)
      def probe(s: ManifestSnapshot): Set[Seq[Any]] = s.frame(spark)
        .filter(col("max_k") >= 40L)
        .select(col("file"), col("n_rows"), col("bloom_b").cast("string"))
        .collect().map(_.toSeq).toSet
      assert(probe(unheld).size == 4 && probe(unheld) == probe(snaps(0)))
      // the JVM-wide cache stays inside its documented bound
      assert(ManifestSnapshot.cachedBytes <= ManifestSnapshot.MaxCachedBytes)
    }
  }
}
