package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The `graft` DataSourceV2 reader — time travel over a
  * generation-tracked [[graft.ext.Layout]] directory reachable from
  * `spark.read` and plain SQL, no Scala API required:
  *
  * {{{
  *   spark.read.format("graft").load(dir)                          // live manifest
  *   spark.read.format("graft").option("versionAsOf", "2").load(dir)
  *   spark.read.format("graft").option("timestampAsOf", "2026-01-01 00:00:00").load(dir)
  *   spark.sql("CREATE TEMPORARY VIEW t USING graft " +
  *     "OPTIONS (path '...', versionAsOf '2')")                    // SQL-first surface
  *   spark.sql("CREATE TABLE t USING graft OPTIONS (path '...')")  // catalog table:
  *     // SELECT/INSERT INTO t with no view boilerplate, DROP TABLE
  *     // removes only the entry — the layout stays the authority
  * }}}
  *
  * A THIN shell over the existing resolution — no second
  * implementation of snapshot semantics: the generation comes from
  * [[graft.ext.Layout.generationAsOf]] (timestamp) or the live
  * counter, the file list from the SAME manifest-resolution path
  * `readSnapshot` uses ([[graft.ext.Layout.snapshotFileAnchors]]:
  * each file live-or-retired at planning time), and the scan is
  * Spark's own V2 parquet table over exactly those files — so
  * predicate pushdown, column pruning, and vectorized reads all apply
  * unchanged. Registered via `META-INF/services`, hence
  * `format("graft")` by short name.
  *
  * FULL-FIDELITY under the graft extensions (installed by
  * [[graft.GraftSession]] `tuned` / `withExtensions(new
  * GraftExtensions)`): a generation carrying DELETION VECTORS is
  * replaced at analysis with the readSnapshot plan
  * ([[graft.plans.GraftDvReadRewrite]] — merge-on-read through plain
  * SQL), and a WHERE over a manifest key PRUNES the relation's file
  * list with the generation's min/max/bloom stats before any file
  * opens ([[graft.plans.GraftManifestPrune]] — scanPruned's data
  * skipping, SQL-reachable). A session WITHOUT the extensions
  * refuses DV snapshots loudly (a raw pass-through would resurrect
  * deleted rows) and simply reads unpruned.
  *
  * Reads with ZERO options serve the CURRENT manifest's file list —
  * a manifest-covered read (out-of-band debris files are invisible,
  * matching [[graft.ext.Layout.readLayout]]), which is already a
  * different contract from `spark.read.parquet(dir)`.
  *
  * A HIVE-PARTITIONED snapshot whose files resolve under MORE THAN
  * ONE anchor (some live, some under a retirement label) cannot be
  * one V2 file relation — partition columns re-derive from a single
  * `basePath`. Under the extensions it reads anyway: the relation is
  * a placeholder the optimizer replaces with `readSnapshot`'s
  * per-anchor union (same substitution machinery as DV generations);
  * without the extensions it refuses loudly with the recovery named.
  *
  * Snapshot resolution happens at table-creation time (the same
  * moment `readSnapshot` resolves), so a cached DataFrame keeps
  * serving its resolved file list; re-run `load()` to re-resolve.
  * Timestamps accept epoch millis or `yyyy-MM-dd HH:mm:ss[.f]`. */
/** ONE instant-parsing rule for every surface that takes a
  * wall-clock option — the reader's `timestampAsOf`, the CDC
  * source's `startingTimestamp`, and the dialect's
  * `RESTORE … TIMESTAMP AS OF`: epoch millis, or
  * `yyyy-MM-dd HH:mm:ss[.f]` read in the SESSION timezone — never
  * the JVM default (`java.sql.Timestamp.valueOf` semantics), which
  * would silently shift the instant by the zone offset on any
  * deployment whose JVM zone differs from the session's. The engine
  * pins its sessions to UTC; this keeps the options honest either
  * way. */
private[graft] object GraftInstants {
  private val TsFmt = new java.time.format.DateTimeFormatterBuilder()
    .appendPattern("yyyy-MM-dd HH:mm:ss")
    .appendFraction(java.time.temporal.ChronoField.NANO_OF_SECOND,
      0, 9, true)
    .toFormatter(java.util.Locale.ROOT)

  def millisOf(t: String): Long =
    try t.toLong catch {
      case _: NumberFormatException =>
        try {
          val zone = java.time.ZoneId.of(SparkSession.active
            .sessionState.conf.sessionLocalTimeZone)
          java.time.LocalDateTime.parse(t, TsFmt).atZone(zone)
            .toInstant.toEpochMilli
        } catch {
          case _: java.time.format.DateTimeParseException =>
            throw new IllegalArgumentException(
              s"instant must be epoch millis or " +
                s"'yyyy-MM-dd HH:mm:ss[.f]', got '$t'")
        }
    }

  /** A wall-clock string's epoch MICROS in the session zone, or
    * `None` when it isn't `yyyy-MM-dd HH:mm:ss[.f]` — the exact
    * rendering a string-vs-timestamp comparison needs (the analyzer
    * would cast the string the same way; a refusing `None` keeps
    * the caller loud instead of approximating). */
  def microsOf(t: String): Option[Long] =
    try {
      val zone = java.time.ZoneId.of(SparkSession.active
        .sessionState.conf.sessionLocalTimeZone)
      val i = java.time.LocalDateTime.parse(t, TsFmt).atZone(zone)
        .toInstant
      Some(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
        (i.getNano / 1000).toLong))
    } catch {
      case _: java.time.format.DateTimeParseException => None
    }
}

class GraftSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {
  import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
  import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable

  override def shortName(): String = "graft"

  // TRUE so `CREATE TABLE t USING graft OPTIONS (path …)` resolves
  // through the session catalog (FindDataSourceTable hands the
  // catalog's STORED schema to getTable, which a false here refuses
  // outright). The layout remains the schema AUTHORITY: getTable
  // ignores the handed schema and re-resolves from the manifest +
  // sidecar, so a table created before an ADD-COLUMN evolution
  // serves the evolved schema — never the stale catalog copy.
  override def supportsExternalMetadata(): Boolean = true

  private def parseTs(t: String): Long = GraftInstants.millisOf(t)

  private def tableOf(options: CaseInsensitiveStringMap): Table = {
    val dir = options.get("path")
    require(dir != null && dir.nonEmpty,
      "the graft reader needs a layout path: " +
        "spark.read.format(\"graft\").load(dir), or OPTIONS (path '...')")
    val spark = SparkSession.active
    val version = Option(options.get("versionAsOf"))
    val tstamp = Option(options.get("timestampAsOf"))
    require(version.isEmpty || tstamp.isEmpty,
      "pass versionAsOf OR timestampAsOf, not both")
    val gen = version
      .map(v => try v.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"versionAsOf must be a generation number, got '$v'")
      })
      .orElse(tstamp.map(t =>
        graft.ext.Layout.generationAsOf(spark, dir, parseTs(t))))
      .getOrElse(graft.ext.Layout.currentGeneration(spark, dir))
    // a V2 file relation serves raw file bytes — it cannot apply
    // deletion vectors itself. A DV-bearing generation is instead
    // REPLACED at analysis time by [[graft.plans.GraftDvReadRewrite]]
    // with the readSnapshot plan; that rule rides the session
    // extensions, so a session WITHOUT them must refuse here — a raw
    // pass-through would silently resurrect deleted rows. (The
    // parser probe stands in for "GraftExtensions installed": both
    // come from the same injection.)
    val extensionsInstalled =
      spark.sessionState.sqlParser.isInstanceOf[graft.plans.GraftSqlParser]
    val hasDv = graft.ext.Layout.snapshotHasDv(spark, dir, gen)
    require(!hasDv || extensionsInstalled,
      s"generation $gen of $dir carries deletion vectors, and this " +
        "session lacks the graft extensions that apply them — build " +
        "the session with GraftSession.tuned (or " +
        ".withExtensions(new GraftExtensions)), or read it with " +
        "Layout.readSnapshot / Layout.scanPruned, or materialize the " +
        "vectors (optimize / optimizeSelective) first")
    val pairs = graft.ext.Layout.snapshotFileAnchors(spark, dir, gen)
    // a known schema (sidecar, else inferred once per manifest
    // snapshot) so the file table never runs its own inference job
    val stored = graft.ext.Layout.snapshotDataSchema(spark, dir, gen,
      pairs.map(_._2))
    require(pairs.nonEmpty || stored.nonEmpty,
      s"generation $gen of $dir holds no files and the layout has no " +
        "schema sidecar to shape an empty relation with — " +
        "Layout.readSnapshot handles this case")
    val passthrough = new java.util.HashMap[String, String]()
    options.entrySet().forEach { e =>
      val k = e.getKey.toLowerCase(java.util.Locale.ROOT)
      if (k != "path" && k != "versionasof" && k != "timestampasof")
        passthrough.put(e.getKey, e.getValue)
    }
    // markers for the plan rewrites ([[graft.plans]]): the relation
    // knows which layout generation it serves — a bare COUNT(*) can
    // answer from the manifest, a Filter above it can prune the file
    // list, and a DV flag routes the relation through the snapshot
    // plan (parquet ignores unknown options)
    passthrough.put("graft.layout.dir", dir)
    passthrough.put("graft.layout.gen", gen.toString)
    if (hasDv) passthrough.put("graft.layout.dv", "true")
    var tableFiles = pairs.map(_._2)
    if (graft.ext.Layout.isHivePartitioned(spark, dir)) {
      // partition columns re-derive from ONE basePath; live and
      // retired files anchor at different roots, so a MIXED snapshot
      // is not expressible as a single V2 file relation. Like a DV
      // generation, it is instead REPLACED in the optimizer with the
      // readSnapshot plan (which unions per-anchor reads) — the
      // relation built here is a schema-correct PLACEHOLDER over the
      // first anchor's files, never scanned. Requires the extensions
      // that carry the substitution rule; refused loudly otherwise.
      val anchors = pairs.map(_._1).distinct
      if (anchors.size > 1) {
        require(extensionsInstalled,
          s"generation $gen of the partitioned layout $dir spans " +
            s"${anchors.size} anchors (live + retirement labels), and " +
            "this session lacks the graft extensions that substitute " +
            "the per-anchor snapshot plan — build the session with " +
            "GraftSession.tuned (or .withExtensions(new " +
            "GraftExtensions)), or read it with Layout.readSnapshot")
        passthrough.put("graft.layout.mixed", "true")
        val a0 = anchors.head
        tableFiles = pairs.collect { case (`a0`, f) => f }
      }
      anchors.headOption.foreach(passthrough.put("basePath", _))
    }
    val pt = ParquetTable(s"graft $dir gen=$gen", spark,
      new CaseInsensitiveStringMap(passthrough),
      tableFiles.toIndexedSeq, stored, classOf[ParquetFileFormat])
    // wrapped: reads delegate to the V2 parquet scan verbatim (the
    // plan rewrites unwrap the marker through [[GraftTable.parquet]]),
    // writes land as [[graft.ext.Layout.appendWithManifest]] — never
    // ParquetTable's own file write, which would drop manifest-less
    // debris a covered read can't see
    new GraftTable(pt, dir,
      timeTravel = version.isDefined || tstamp.isDefined)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    tableOf(options).schema()

  // `schema`/`partitioning` (the catalog's stored copies) are
  // deliberately unused: the layout's manifest + sidecar are the one
  // authority, re-resolved per load — see supportsExternalMetadata
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    tableOf(new CaseInsensitiveStringMap(properties))

  // ───────── streaming: the generation store as a CDC source ─────────
  //
  // `spark.readStream.format("graft").load(dir)` tails the layout's
  // COMMITS: each micro-batch is the signed change feed
  // ([[graft.ext.Layout.changesBetween]] — data columns + `op` ∈ ±1)
  // of the generations committed since the last batch, with the
  // generation NUMBER as the stream offset — Delta's CDC streaming
  // source recovered from the manifests alone. Deletes and upserts
  // arrive as ±1 rows (not just appends), so
  // `foreachBatch { Ivm.maintainAgg }` is the complete streaming MV
  // loop with zero manual generation bookkeeping; batches compose
  // exactly (offset G1→G2 then G2→G3 ≡ G1→G3 as multisets), and a
  // restart resumes from the checkpointed offset. `startingVersion`
  // backfills from an older generation, `startingTimestamp` from the
  // generation that instant resolves to through the commit records —
  // exactly the TIMESTAMP AS OF resolution (default: the live
  // generation at stream start — only NEW changes). The source REGISTERS a
  // snapshot pin at its last committed offset and advances it per
  // batch, so a vacuum cannot silently cut the history an active (or
  // checkpointed-but-stopped) stream still needs — `force` overrides,
  // after which the next batch fails loudly in changesBetween.
  // (The plain TableProvider path above lacks streaming capabilities,
  // so `readStream` falls through to this V1 provider by design.)
  override def sourceSchema(sqlContext: org.apache.spark.sql.SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) = {
    val p = org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(parameters)
    ("graft-cdc", feedSchema(sqlContext.sparkSession, p))
  }

  private def typedKeysOf(p: Map[String, String]): Option[Seq[String]] =
    if (!p.get("changeTypes").exists(_.equalsIgnoreCase("true"))) None
    else Some(p.getOrElse("keys", throw new IllegalArgumentException(
      "changeTypes needs the pairing key(s): .option(\"keys\", \"k1,k2\")")
    ).split(',').map(_.trim).toSeq)

  private def feedSchema(spark: SparkSession,
                         p: Map[String, String]): StructType = {
    val dir = p.getOrElse("path", throw new IllegalArgumentException(
      "the graft CDC source needs a layout path: " +
        "spark.readStream.format(\"graft\").load(dir)"))
    val g = graft.ext.Layout.currentGeneration(spark, dir)
    val opCol = p.getOrElse("opCol", "op")
    // an EMPTY span through the real feed derivation — the
    // authoritative schema, never a parallel reimplementation
    typedKeysOf(p) match {
      case Some(keys) => graft.ext.Layout
        .changesBetweenTyped(spark, dir, g, g, keys, opCol).schema
      case None =>
        graft.ext.Layout.changesBetween(spark, dir, g, g, opCol).schema
    }
  }

  override def createSource(sqlContext: org.apache.spark.sql.SQLContext,
                            metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val p = org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(parameters)
    val dir = p.getOrElse("path", throw new IllegalArgumentException(
      "the graft CDC source needs a layout path"))
    val spark = sqlContext.sparkSession
    val fromVersion = p.get("startingVersion").map { v =>
      try v.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"startingVersion must be a generation number, got '$v'")
      }
    }
    // startingTimestamp resolves through the SAME per-commit records
    // TIMESTAMP AS OF reads, INCLUSIVELY: the offset is the
    // generation BEFORE the earliest commit at or after the instant,
    // so a commit landing exactly at the instant ships its changes
    // (the reference CDC contract; an at-or-before resolution would
    // silently exclude it)
    val fromTimestamp = p.get("startingTimestamp").map(t =>
      graft.ext.Layout.cdcStartGeneration(spark, dir, parseTs(t)))
    require(fromVersion.isEmpty || fromTimestamp.isEmpty,
      "pass startingVersion OR startingTimestamp, not both")
    new GraftChangeSource(spark, dir,
      p.getOrElse("opCol", "op"),
      fromVersion.orElse(fromTimestamp),
      metadataPath, feedSchema(spark, p),
      typedKeysOf(p))
  }

  // ───────── streaming: the exactly-once sink, DSL-native ─────────
  //
  // `df.writeStream.format("graft").option("queryId", …).start(dir)`
  // is [[graft.ext.Layout.streamAppend]] with zero foreachBatch
  // plumbing: same ledger, same commit-record token, same
  // write-ahead intent — source AND sink are now symmetric DSL
  // surfaces over the generation store. The layout must already
  // exist with a stored manifest and generation tracking (the same
  // preconditions the verb enforces loudly), and its STORED keys
  // govern the new files' stats — the writer never re-states them,
  // exactly the GRAFT APPEND discipline. `queryId` names the ledger
  // a restart consults; it defaults to the query's
  // checkpointLocation, which is precisely as stable as the restart
  // contract itself. Append-only by construction (a lakehouse append
  // sink has no complete/update semantics) and partitionBy-free (the
  // layout's own partitioning routes rows).
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val p = org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(parameters)
    val dir = p.getOrElse("path", throw new IllegalArgumentException(
      "the graft sink needs a layout path: " +
        ".writeStream.format(\"graft\").start(dir)"))
    require(partitionColumns.isEmpty,
      "the graft sink routes partitioning from the layout itself — " +
        "drop partitionBy(...)")
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"the graft sink is append-only (exactly-once streamAppend); " +
        s"got $outputMode")
    // an EXPLICIT queryId is the user's token, taken verbatim; the
    // checkpointLocation default is a PATH, and equivalent spellings
    // of one path (relative vs absolute, trailing slash, scheme-
    // qualified) must hash to ONE ledger — a restart under a
    // differently-spelled checkpoint would otherwise miss the replay
    // check and append its last batch twice. Qualify against the
    // session filesystem before the ledger name derives from it.
    val queryId = p.get("queryId").getOrElse {
      val ckpt = p.getOrElse("checkpointLocation",
        throw new IllegalArgumentException(
          "the graft sink needs a stable query identity for its " +
            "ledger: .option(\"queryId\", …) or a checkpointLocation"))
      val hp = new org.apache.hadoop.fs.Path(ckpt)
      hp.getFileSystem(sqlContext.sparkSession.sparkContext
        .hadoopConfiguration).makeQualified(hp).toString
    }
    new GraftStreamSink(dir, queryId,
      p.get("mergeSchema").exists(_.equalsIgnoreCase("true")))
  }
}

/** The table the `graft` provider serves: READS are the wrapped V2
  * parquet table's scan verbatim (snapshot-resolved file list, full
  * pushdown/pruning/vectorization — plus the marker options the plan
  * rewrites key on), WRITES are the layout verb. `df.write
  * .format("graft").mode("append").save(dir)` plans as a V1-fallback
  * append ([[org.apache.spark.sql.connector.write.V1Write]] — the
  * Delta pattern), whose insert IS
  * [[graft.ext.Layout.appendWithManifest]]: stats from the layout's
  * STORED keys, CHECK constraints enforced, schema drift refused (or
  * evolved under `.option("mergeSchema", "true")`), one commit
  * discipline with the Scala/SQL/stream writers. `ACCEPT_ANY_SCHEMA`
  * hands the batch through UNRESOLVED so the verb's own schema
  * discipline (exact-or-evolve, loud otherwise) is the single
  * authority — Spark's positional by-name resolution would silently
  * cast-align what the verb refuses. Unmappable modes refuse loudly:
  * `overwrite` has no verb (no OVERWRITE capability → analysis
  * error naming the table), `errorifexists`/`ignore` cannot create a
  * layout (a manifest needs KEYS — GRAFT CREATE and Layout.write's
  * `manifestKeys` carry them), and a TIME-TRAVELED table (versionAsOf /
  * timestampAsOf) is a snapshot, not a write target. */
private[graft] class GraftTable(
    private[graft] val parquet: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable,
    dir: String, timeTravel: Boolean)
    extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.GraftV1FallbackTable {
  import org.apache.spark.sql.connector.catalog.TableCapability

  /** The V1-fallback identity (the Delta pattern):
    * `writeStream.format("graft").toTable(t)` routes through this
    * CatalogTable back to the provider's OWN V1 streaming sink — the
    * exactly-once ledger sink, path taken from `location` — so the
    * table-name spelling carries the same one-implementation
    * semantics as `format("graft").start(dir)`. The IDENTIFIER must
    * be the real registered name (Spark refreshes it per batch), and
    * the provider is never handed one, so it re-resolves through the
    * session catalog by layout path: for a catalog-loaded table the
    * stored `path` option IS the dir this table was built from, so
    * string equality finds exactly the registration. A layout never
    * registered (or a time-traveled snapshot) refuses with the
    * path-based spelling named. */
  override def v1Table
      : org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    require(!timeTravel,
      s"cannot stream a time-traveled read of $dir — a versionAsOf/" +
        "timestampAsOf table is a snapshot; stream the live table")
    val spark = SparkSession.active
    val cat = spark.sessionState.catalog
    val dbs =
      (cat.getCurrentDatabase +: Seq("default")).distinct
    val ident = dbs.iterator.flatMap { db =>
      cat.listTables(db).iterator.filter { ti =>
        try {
          val m = cat.getTableMetadata(ti)
          m.provider.exists(_.equalsIgnoreCase("graft")) &&
            (m.storage.properties.collectFirst {
              case (k, v) if k.equalsIgnoreCase("path") => v
            }.contains(dir) ||
              m.storage.locationUri.map(u =>
                new org.apache.hadoop.fs.Path(u).toString).contains(dir))
        } catch { case _: Exception => false }
      }
    }.toSeq.headOption.getOrElse(throw new IllegalArgumentException(
      s"no catalog table registers the graft layout at $dir — " +
        "CREATE TABLE <name> USING graft OPTIONS (path '…') first, " +
        "or stream via .format(\"graft\").start/load of the path"))
    org.apache.spark.sql.catalyst.catalog.CatalogTable(
      identifier = ident,
      tableType =
        org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL,
      storage = org.apache.spark.sql.catalyst.catalog
        .CatalogStorageFormat.empty.copy(
          locationUri = Some(new org.apache.hadoop.fs.Path(dir).toUri),
          properties = Map("path" -> dir)),
      schema = schema(),
      provider = Some("graft"))
  }

  override def name(): String = parquet.name
  override def columns() = parquet.columns()
  // Table's DEFAULT schema() throws (override-one-of contract), and
  // the provider's inferSchema calls schema() directly — delegate
  // both accessors, not just columns()
  override def schema(): StructType = parquet.schema
  override def partitioning() = parquet.partitioning()
  override def properties() = parquet.properties()
  // OVERWRITE_BY_FILTER admits `REPLACE WHERE` (routed onto
  // [[graft.ext.Layout.replaceWhere]] below); TRUNCATE is
  // deliberately ABSENT, so whole-table `INSERT OVERWRITE` refuses
  // at analysis — truncation intent belongs to the explicit
  // lifecycle verbs (GRAFT RESTORE / CREATE)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.ACCEPT_ANY_SCHEMA)

  override def newScanBuilder(options: CaseInsensitiveStringMap) =
    parquet.newScanBuilder(options)

  // ── ANSI DELETE: `DELETE FROM t WHERE …` in PLAIN SQL ──
  //
  // Spark routes a DeleteFromTable over this relation through
  // SupportsDelete when the condition translates to source filters;
  // [[GraftDeleteFilters]] then demands an EXACT box rendering
  // (point / range / IN / successor-closed strict bounds on the
  // layout's declared keys) — anything weaker refuses loudly via
  // canDeleteWhere, never a partial delete. The execution IS
  // [[graft.ext.Layout.deleteWhere]]: pay-for-the-touch file
  // classification, covered files drop unopened, partials rewrite
  // vector-applied, one commit. DELETE without WHERE refuses (a
  // whole-table truncate has no box form — GRAFT RESTORE / CREATE
  // express that intent explicitly).
  private def deleteBoxesOf(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Option[Seq[graft.ext.Layout.PruneBox]] = {
    val spark = SparkSession.active
    val keys = graft.ext.Layout.storedKeys(spark, dir).toSet
    GraftDeleteFilters.boxesOf(parquet.schema, keys,
      filters.toIndexedSeq)
  }

  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    !timeTravel && deleteBoxesOf(filters).isDefined

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(!timeTravel,
      s"cannot DELETE from a time-traveled read of $dir — a " +
        "versionAsOf/timestampAsOf table is a snapshot")
    val boxes = deleteBoxesOf(filters).getOrElse(
      throw new IllegalArgumentException(
        s"DELETE condition ${filters.mkString(" AND ")} has no exact " +
          s"box form over the declared keys of $dir — supported: " +
          "=, IN, range and BETWEEN conjuncts on manifest key " +
          "columns; use GRAFT DELETE FROM or the Scala verbs for " +
          "anything richer"))
    graft.ext.Layout.deleteWhere(SparkSession.active, dir, boxes)
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(!timeTravel,
      s"cannot write into a time-traveled read of $dir — a " +
        "versionAsOf/timestampAsOf table is a snapshot; write to the " +
        "live layout (drop the option)")
    val mergeSchema = "true".equalsIgnoreCase(
      info.options.getOrDefault("mergeSchema", "false"))
    // SupportsOverwrite admits `REPLACE WHERE` — `df.writeTo(t)
    // .overwrite(cond)` and the SQL spelling both plan
    // OverwriteByExpression, whose condition must render as EXACT
    // boxes (the same translation and the same reasoning as the
    // ANSI DELETE path: an overwrite-by-filter has no residual).
    // The execution IS [[graft.ext.Layout.replaceWhere]] — delete
    // the region + insert the batch as ONE committed generation,
    // strict containment proved over the incoming rows. A plain
    // append never calls overwrite() and keeps the append verb.
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var replaceBoxes
          : Option[Seq[graft.ext.Layout.PruneBox]] = None
      override def canOverwrite(
          filters: Array[org.apache.spark.sql.sources.Filter])
          : Boolean = deleteBoxesOf(filters).isDefined
      override def overwrite(
          filters: Array[org.apache.spark.sql.sources.Filter])
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        replaceBoxes = Some(deleteBoxesOf(filters).getOrElse(
          throw new IllegalArgumentException(
            s"REPLACE WHERE ${filters.mkString(" AND ")} has no " +
              s"exact box form over the declared keys of $dir — " +
              "supported: =, IN, range and BETWEEN conjuncts on " +
              "manifest key columns; whole-table overwrite has no " +
              "layout verb (GRAFT CREATE a fresh directory or " +
              "RESTORE a generation instead)")))
        this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) =>
              replaceBoxes match {
                case Some(boxes) =>
                  graft.ext.Layout.replaceWhere(data.sparkSession,
                    dir, data, boxes)
                case None =>
                  require(!overwrite,
                    s"the graft write surface is append-only ($dir) — " +
                      "overwrite has no layout verb; GRAFT CREATE a " +
                      "fresh directory or RESTORE a generation instead")
                  graft.ext.Layout.appendWithManifest(data, dir,
                    graft.ext.Layout.storedKeys(data.sparkSession, dir),
                    mergeSchema = mergeSchema)
              }
        }
    }
  }
}

/** The V1 micro-batch sink behind `writeStream.format("graft")` —
  * see the provider doc on [[GraftSource]]. `addBatch` IS
  * [[graft.ext.Layout.streamAppend]] (one implementation of the
  * exactly-once protocol), over the batch rewrapped off the
  * incremental execution. */
private[sources] class GraftStreamSink(dir: String, queryId: String,
                                       mergeSchema: Boolean)
    extends org.apache.spark.sql.execution.streaming.Sink {
  override def addBatch(batchId: Long,
                        data: org.apache.spark.sql.DataFrame): Unit = {
    val spark = data.sparkSession
    val batch = org.apache.spark.sql.GraftColumnBridge.batchFrameOf(data)
    graft.ext.Layout.streamAppend(dir,
      graft.ext.Layout.storedKeys(spark, dir), queryId, mergeSchema)(
      batch, batchId)
  }
  override def toString: String = s"GraftSink[$dir]"
}

/** The V1 micro-batch source behind `readStream.format("graft")` —
  * see the provider doc on [[GraftSource]]. Offsets are generation
  * numbers; `getBatch(G1, G2)` IS `Layout.changesBetween(G1, G2)`
  * (one implementation of the feed semantics), wrapped as a streaming
  * frame over the same plan. */
private[sources] class GraftChangeSource(
    spark: SparkSession, dir: String, opCol: String,
    startingVersion: Option[Long], metadataPath: String,
    override val schema: StructType,
    typedKeys: Option[Seq[String]] = None)
    extends org.apache.spark.sql.execution.streaming.Source {
  import org.apache.spark.sql.execution.streaming.{Offset => V1Offset}
  import org.apache.spark.sql.execution.streaming.runtime.LongOffset

  private val initialGen: Long = startingVersion.getOrElse(
    graft.ext.Layout.currentGeneration(spark, dir))
  // the pin makes vacuum coordination automatic: it sits at the last
  // COMMITTED offset (initially the starting generation), so the
  // history an in-flight or restartable stream still needs cannot
  // vacuum away silently. The consumer id is the query's metadata
  // path — stable across restarts of the same checkpointed query.
  graft.ext.Layout.registerSnapshotPin(spark, dir,
    s"stream:$metadataPath", initialGen)

  private def genOf(o: V1Offset): Long = o.json.trim.toLong

  override def getOffset: Option[V1Offset] = {
    val g = graft.ext.Layout.currentGeneration(spark, dir)
    if (g <= initialGen) None else Some(LongOffset(g))
  }

  override def getBatch(start: Option[V1Offset],
                        end: V1Offset): org.apache.spark.sql.DataFrame = {
    val from = start.map(genOf).getOrElse(initialGen)
    // changeTypes mode ships each span TYPED ([[graft.ext.Layout
    // .changesBetweenTyped]] — identical ±1 pairs netted out, same-key
    // delete+insert paired into update pre/postimages): the streaming
    // SCD2/audit shape, span semantics identical to the batch verb
    val feed = typedKeys match {
      case Some(keys) => graft.ext.Layout.changesBetweenTyped(spark, dir,
        from, genOf(end), keys, opCol)
      case None => graft.ext.Layout.changesBetween(spark, dir, from,
        genOf(end), opCol)
    }
    require(feed.schema == schema,
      s"the layout's schema changed under the stream (now " +
        s"${feed.schema.simpleString}, stream holds " +
        s"${schema.simpleString}) — restart the stream to pick it up")
    // the engine asserts isStreaming on V1 batch frames; wrap the
    // SAME plan (toRdd is lazy — the feed executes at batch run, not
    // here at planning)
    org.apache.spark.sql.GraftColumnBridge.streamingFrameOf(feed)
  }

  override def commit(end: V1Offset): Unit =
    // advance the vacuum pin to the committed offset: history below
    // it is no longer needed by this stream (a restart resumes from
    // the checkpointed offset, never earlier)
    graft.ext.Layout.registerSnapshotPin(spark, dir,
      s"stream:$metadataPath", genOf(end))

  override def stop(): Unit = ()
}
