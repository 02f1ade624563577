package graft

import graft.ops.RelationalOps
import graft.sources.DocumentSource
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class SourcesSpec extends AnyFunSuite with SharedSpark {

  test("securities JSON: schema-first read, dirty numerics survive, corrupt rows observable") {
    val dir = Files.createTempDirectory("graft-json").toFile
    val f = new java.io.File(dir, "securities.jsonl")
    val w = new java.io.PrintWriter(f)
    w.println("""{"Symbol":"AAA","StaticData":{"SecurityName":"A Corp","SECFilings":"10-K","GICSSector":"Energy","GICSSubIndustry":"Oil"},"MarketData":{"Price":120.5,"MarketCap":200000,"Beta":1.1},"FinancialRatios":{"DividendYield":2.5,"PERatio":15.2,"PayoutRatio":0.4}}""")
    w.println("""{"Symbol":"BBB","StaticData":{"SecurityName":"B Corp","SECFilings":"10-Q","GICSSector":"Energy","GICSSubIndustry":"Gas"},"MarketData":{"Price":"NA","MarketCap":null,"Beta":0.9},"FinancialRatios":{"DividendYield":"NA","PERatio":8.1,"PayoutRatio":null}}""")
    w.println("""this is not json at all""")
    w.close()

    val df = DocumentSource.securitiesJson(spark, f.getAbsolutePath).cache()
    assert(df.count() === 3)
    // dirty numeric read as string: both the number and the sentinel survive
    val bySym = df.filter(col("Symbol").isNotNull).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(bySym("AAA").getStruct(2).getString(0) === "120.5")
    assert(bySym("BBB").getStruct(2).getString(0) === "NA")
    assert(bySym("BBB").getStruct(2).isNullAt(1))
    // corrupt line observable, not dropped
    assert(df.filter(col("_corrupt_record").isNotNull).count() === 1)
    // Mongo-$avg semantics over the dirty read (SURVEY §7.4 Q2)
    val avgPrice = df.agg(avg(RelationalOps.numericOrNull(col("MarketData.Price"))))
      .head().getDouble(0)
    assert(avgPrice === 120.5)
  }

  test("CSV: schema-first read") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-csv").toFile
    val f = new java.io.File(dir, "rates.csv")
    val w = new java.io.PrintWriter(f)
    w.println("from_currency,to_currency,rate"); w.println("EUR,USD,1.09"); w.close()
    val schema = StructType(Seq(StructField("from_currency", StringType),
      StructField("to_currency", StringType), StructField("rate", DoubleType)))
    val df = DocumentSource.csv(spark, f.getAbsolutePath, schema)
    assert(df.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq ===
      Seq(("EUR", "USD", 1.09)))
  }

  test("clustered write: files hold disjoint ranges of the cluster column") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-clust").toFile.getAbsolutePath + "/li"
    val li = graft.sources.Tables(spark, sf0001).table("lineitem")
    graft.ext.Layout.write(li, dir, Seq(col("l_shipdate")), files = 4,
      graft.ext.Layout.Curve.Range)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length === 4)
    val ranges = files.map { f =>
      // l_shipdate is TIMESTAMP_NTZ → LocalDateTime in rows
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min("l_shipdate"), max("l_shipdate")).head()
      (r.getAs[java.time.LocalDateTime](0), r.getAs[java.time.LocalDateTime](1))
    }.sortBy(_._1)(Ordering.fromLessThan(_ isBefore _))
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(!hi.isAfter(lo2), "file ranges must not interleave")
      case _ =>
    }
  }

  test("events ts encoding tolerance: nanos-int64, µs-LTZ, and µs-NTZ all agree") {
    // The driver's testdata generator has shipped events.ts as parquet
    // TIMESTAMP(NANOS) (read as long under nanosAsLong), then re-encoded
    // to TIMESTAMP(MICROS, isAdjustedToUTC=false) = TIMESTAMP_NTZ — which
    // silently broke four gate queries in round 8. This pins the contract:
    // whatever encoding the generator next emits, Tables.normalizeEventTs
    // must yield the identical TIMESTAMP instants, and the event-query
    // family (sessionization was the first casualty) identical results.
    import org.apache.spark.sql.types._
    val base = graft.sources.Tables(spark, sf0001).table("events")
    val root = Files.createTempDirectory("graft-ts-enc").toFile.getAbsolutePath

    // the testdata layout is ONE parquet FILE per table, so mirror it:
    // write a single-part dir, then move the part file to <enc>/events.parquet
    def writeAsSingleFile(df: org.apache.spark.sql.DataFrame, enc: String): Unit = {
      val tmp = s"$root/_tmp_$enc"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(s"$root/$enc/events.parquet")
      dest.getParentFile.mkdirs()
      Files.move(part.toPath, dest.toPath)
    }
    // µs-LTZ: TimestampType writes as TIMESTAMP(MICROS, isAdjustedToUTC=true)
    writeAsSingleFile(base, "ltz")
    // µs-NTZ: TimestampNTZType writes as TIMESTAMP(MICROS, isAdjustedToUTC=false)
    writeAsSingleFile(base.withColumn("ts", col("ts").cast(TimestampNTZType)), "ntz")
    // nanos-as-long: what a TIMESTAMP(NANOS) file looks like to a session
    // with spark.sql.legacy.parquet.nanosAsLong=true
    writeAsSingleFile(base.withColumn("ts", expr("unix_micros(ts) * 1000L")), "nanos")

    val sessions = QueryDef.all.find(_.name == "q_ev_sessions").get.fn
    val expected = sessions(spark, sf0001).collect().toSeq
    for (enc <- Seq("ltz", "ntz", "nanos")) {
      val t = graft.sources.Tables(spark, s"$root/$enc").table("events")
      assert(t.schema("ts").dataType === TimestampType,
        s"$enc: normalizeEventTs must yield TIMESTAMP")
      // identical instants, not just identical-looking wall clocks
      assert(t.agg(sum(unix_micros(col("ts"))), count(lit(1))).head() ===
        base.agg(sum(unix_micros(col("ts"))), count(lit(1))).head(), s"$enc instants")
      assert(sessions(spark, s"$root/$enc").collect().toSeq === expected,
        s"$enc: sessionization must agree")
      // the streaming file source resolves the same encoding to TIMESTAMP
      assert(graft.streaming.EventStreams.streamFromParquet(spark, s"$root/$enc")
        .schema("ts").dataType === TimestampType, s"$enc streaming schema")
    }
  }

  test("binaryFile ingestion: media directory → header parse → parquet compaction") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    val dir = Files.createTempDirectory("graft-media").toFile
    val sizes = Seq((64, 48), (320, 200), (16, 16))
    sizes.zipWithIndex.foreach { case ((w, h), i) =>
      ImageIO.write(new BufferedImage(w, h, BufferedImage.TYPE_INT_ARGB),
        "png", new java.io.File(dir, s"img_$i.png"))
    }
    new java.io.PrintWriter(new java.io.File(dir, "notes.txt")) {
      write("not media"); close()
    }

    // glob keeps non-media files out of the scan entirely
    val media = graft.sources.DocumentSource.binaryFiles(
      spark, dir.getAbsolutePath, glob = Some("*.png"))
    assert(media.count() === 3)
    // the content column feeds the Multimodal battery unchanged
    val parsed = media.select(
      element_at(split(col("path"), "/"), -1).as("file"),
      graft.ext.Multimodal.pngValid(col("content")).as("ok"),
      graft.ext.Multimodal.pngWidth(col("content")).as("w"),
      graft.ext.Multimodal.pngHeight(col("content")).as("h"))
    val byFile = parsed.collect().map(r => r.getString(0) -> r).toMap
    sizes.zipWithIndex.foreach { case ((w, h), i) =>
      val r = byFile(s"img_$i.png")
      assert(r.getBoolean(1) && r.getLong(2) === w && r.getLong(3) === h,
        s"img_$i parse: $r")
    }
    // the documented scale path: compact into a binary-column parquet
    // and scan THAT — the q_mm_* table shape
    val compact = Files.createTempDirectory("graft-media-pq").toFile.getAbsolutePath + "/media"
    media.select(col("path"), col("length"), col("content"))
      .write.parquet(compact)
    val back = spark.read.parquet(compact)
    assert(back.count() === 3)
    assert(back.select(graft.ext.Multimodal.pngWidth(col("content")).cast("long"))
      .collect().map(_.getLong(0)).sorted.toSeq === sizes.map(_._1.toLong).sorted)

    // maxLength excludes oversized files via a pushed-down metadata
    // filter — NO session conf is touched (a conf mutation would
    // silently alter every later binaryFile read on the session)
    val confBefore = spark.conf.getOption("spark.sql.sources.binaryFile.maxLength")
    val smallest = media.select(min(col("length"))).head().getLong(0)
    val capped = graft.sources.DocumentSource.binaryFiles(
      spark, dir.getAbsolutePath, glob = Some("*.png"), maxLength = Some(smallest))
    assert(capped.count() === 1)
    assert(spark.conf.getOption("spark.sql.sources.binaryFile.maxLength") === confBefore)
  }

  test("parquet sink round-trips with directory partitioning") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-pq").toFile.getAbsolutePath + "/out"
    val df = Seq((1, "a", "2024-01-01"), (2, "b", "2024-01-02")).toDF("id", "v", "dt")
    DocumentSource.writeParquet(df, dir, partitionBy = Seq("dt"))
    val back = spark.read.parquet(dir)
    assert(back.count() === 2)
    // partition pruning: only one directory read when filtering on dt
    val pruned = back.filter(col("dt") === "2024-01-01")
    assert(pruned.count() === 1)
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }
}
