package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.command.RunnableCommand

import graft.ext.Layout

/** The lakehouse LIFECYCLE verbs as plain SQL — the write-side
  * complement of the `graft` DataSourceV2 reader (reads:
  * `USING graft OPTIONS (versionAsOf …)`), injected as a PARSER
  * extension ([[graft.GraftExtensions]] `injectParser`) so a
  * SQL-only session manages a layout end to end:
  *
  * {{{
  *   GRAFT DESCRIBE HISTORY <t>
  *   GRAFT DESCRIBE DETAIL <t>
  *   GRAFT OPTIMIZE <t> TARGET <n> ROWS [DV RATIO <x>]
  *   GRAFT VACUUM <t> RETAIN <n> [FORCE]
  *   GRAFT SHOW PINS <t>
  *   GRAFT RESTORE <t> VERSION AS OF <n> | TIMESTAMP AS OF '<instant>'
  *   GRAFT CLONE <t> [VERSION AS OF <n>] TO '<dir>'
  *   GRAFT CREATE '<dir>' KEYS (k, …) [GENERATIONS] AS <query>
  *   GRAFT APPEND INTO <t> [MERGE SCHEMA] AS <query>
  *   GRAFT UPSERT INTO <t> KEYS (k, …) AS <query>
  *   GRAFT MERGE INTO <t> USING (<query>) ON (k, …)
  *         WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT
  *       | WHEN MATCHED THEN DELETE
  *   GRAFT UPDATE <t> SET c = <expr>[, …] WHERE <pred> [AND <pred> …]
  *   GRAFT DELETE FROM <t> WHERE <pred> [AND <pred> …]
  *                    [USING VECTORS]
  *   GRAFT REPLACE INTO <t> WHERE <pred> [AND <pred> …] AS <query>
  *     pred: <key> BETWEEN <lo> AND <hi>  |  <key> = <v>
  *         | <key> IN (<v>, …)   — values numeric or 'quoted' (typed)
  *   GRAFT ALTER <t> ADD CONSTRAINT <name> CHECK (<expr>)
  *   GRAFT ALTER <t> DROP CONSTRAINT <name>
  *   GRAFT SHOW CONSTRAINTS <t>
  *   GRAFT SHOW STREAMS <t>
  * }}}
  *
  * `<t>` is a layout reference: a `'/path'` literal, or the NAME of a
  * table registered with `CREATE TABLE … USING graft` (optionally
  * db-qualified) — the dialect and the catalog surface name the same
  * tables, so a SQL session that created `events USING graft` writes
  * `GRAFT OPTIMIZE events TARGET 5000000 ROWS` with no path
  * restating. CREATE's and CLONE's DESTINATION stay path literals
  * (the directory does not exist yet — there is nothing to name).
  *
  * The write statements' `AS <query>` tails parse through SPARK'S OWN
  * parser (the dialect never grows a query grammar), so any SELECT
  * the session can run can seed, extend, or merge into a layout;
  * APPEND follows the layout's STORED manifest keys — the writer
  * never re-states (or silently changes) them — and DELETE's bounds
  * dispatch to the numeric or typed key box by literal form.
  *
  * Plain SELECT time travel composes with the same catalog names:
  * `SELECT … FROM <name> VERSION AS OF <n> / TIMESTAMP AS OF '…'`
  * rewrites at parse time onto the graft reader's own snapshot
  * resolution — see [[GraftTimeTravel]].
  *
  * Every statement is a THIN shell over the existing verb (no second
  * implementation of any semantics): OPTIMIZE runs
  * [[Layout.optimizeSelective]] on either layout shape — the
  * file-subset form, since "pay for the degradation, not the table"
  * is the only default that survives 100 TB; VACUUM's
  * FORCE maps to the snapshot-pin override and inherits its loud
  * refusal otherwise. Statements not starting with the GRAFT keyword
  * delegate verbatim to Spark's own parser — the extension never
  * shadows standard SQL. */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlCommands.parse(session, delegate, sqlText)
      .getOrElse(GraftAnsiDml.rewrite(session,
        GraftTimeTravel.rewrite(session, delegate.parsePlan(sqlText))))

  override def parseExpression(sqlText: String) =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String) =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String) =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String) =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String) = delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String) =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String) =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String) =
    delegate.parseDataType(sqlText)
}

/** One eagerly-executed command node per statement: `output` is fixed
  * at parse time (for the DESCRIBE forms, from the very DataFrame the
  * verb builds — never a hand-maintained schema copy that could
  * drift), `exec` runs the verb when the command executes. */
private case class GraftVerbCommand(override val output: Seq[Attribute],
                                    exec: SparkSession => Seq[Row])
    extends RunnableCommand {
  override def run(sparkSession: SparkSession): Seq[Row] =
    exec(sparkSession)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan = this
}

object GraftSqlCommands {
  // a layout reference is a PATH in a standard single-quoted SQL
  // string literal, or a catalog TABLE NAME (optionally db-qualified)
  // registered with `CREATE TABLE … USING graft` — [[dirOf]] resolves
  // the name through the session catalog to the stored layout path,
  // so the dialect and the catalog surface name the same tables. The
  // statement forms stay deliberately regex-simple (keyword dialect,
  // one layout reference, scalar options) — anything more belongs in
  // the Scala API. The quotes travel INSIDE the one capture group so
  // dirOf can tell path from name.
  private val Ref = """('[^']+'|[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)"""
  private val DescribeHistoryRe =
    ("""(?is)\s*GRAFT\s+DESCRIBE\s+HISTORY\s+""" + Ref + """\s*;?\s*""").r
  private val DescribeDetailRe =
    ("""(?is)\s*GRAFT\s+DESCRIBE\s+DETAIL\s+""" + Ref + """\s*;?\s*""").r
  private val OptimizeRe =
    ("""(?is)\s*GRAFT\s+OPTIMIZE\s+""" + Ref + """\s+TARGET\s+(\d+)\s+ROWS(?:\s+DV\s+RATIO\s+([0-9]*\.?[0-9]+))?\s*;?\s*""").r
  private val VacuumRe =
    ("""(?is)\s*GRAFT\s+VACUUM\s+""" + Ref + """\s+RETAIN\s+(\d+)(\s+FORCE)?\s*;?\s*""").r
  private val RestoreRe =
    ("""(?is)\s*GRAFT\s+RESTORE\s+""" + Ref + """\s+(?:VERSION\s+AS\s+OF\s+(\d+)|TIMESTAMP\s+AS\s+OF\s+'([^']+)')\s*;?\s*""").r
  // CLONE's destination (like CREATE's) is a PATH literal only — the
  // directory does not exist yet, so there is no table to name
  private val CloneRe =
    ("""(?is)\s*GRAFT\s+CLONE\s+""" + Ref + """(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s+TO\s+'([^']+)'\s*;?\s*""").r
  private val CreateRe =
    """(?is)\s*GRAFT\s+CREATE\s+'([^']+)'\s+KEYS\s*\(([^)]+)\)(\s+GENERATIONS)?\s+AS\s+(.+?)\s*;?\s*""".r
  private val AppendRe =
    ("""(?is)\s*GRAFT\s+APPEND\s+INTO\s+""" + Ref + """(\s+MERGE\s+SCHEMA)?\s+AS\s+(.+?)\s*;?\s*""").r
  private val UpsertRe =
    ("""(?is)\s*GRAFT\s+UPSERT\s+INTO\s+""" + Ref + """\s+KEYS\s*\(([^)]+)\)\s+AS\s+(.+?)\s*;?\s*""").r
  // the USING query is PARENTHESIZED so its own `… ON (…)` join
  // syntax can never be mistaken for the merge keys: the greedy
  // `(.+)` claims everything up to the LAST `) ON (keys) WHEN …`
  private val MergeRe =
    ("""(?is)\s*GRAFT\s+MERGE\s+INTO\s+""" + Ref + """\s+USING\s*\((.+)\)\s+ON\s*\(([^)]+)\)\s+(WHEN\s+.+?)\s*;?\s*""").r
  private val MergeUpsertRe =
    """(?is)^WHEN\s+MATCHED\s+THEN\s+UPDATE\s+WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT$""".r
  private val MergeDeleteRe =
    """(?is)^WHEN\s+MATCHED\s+THEN\s+DELETE$""".r
  private val DeleteRe =
    ("""(?is)\s*GRAFT\s+DELETE\s+FROM\s+""" + Ref + """\s+WHERE\s+(.+?)(\s+USING\s+VECTORS)?\s*;?\s*""").r
  // the WHERE tail is LAZY and the box grammar carries no AS, so the
  // first `AS` after the predicates starts the query verbatim
  private val ReplaceRe =
    ("""(?is)\s*GRAFT\s+REPLACE\s+INTO\s+""" + Ref + """\s+WHERE\s+(.+?)\s+AS\s+(.+?)\s*;?\s*""").r
  // the WHERE tail parses as a CONJUNCTION of key predicates —
  // consumed front-to-back with anchored forms (a naive split on
  // AND would cut BETWEEN's own AND in half). Literal form picks the
  // box: bare numbers → KeyBox, quoted strings → TypedKeyBox (date /
  // timestamp / string stats), IN (…) → KeySetBox (point-lookup
  // pruning through the manifest blooms).
  private val PredNumRe =
    """(?is)^(\w+)\s+BETWEEN\s+(-?\d+)\s+AND\s+(-?\d+)\b(.*)""".r
  private val PredStrRe =
    """(?is)^(\w+)\s+BETWEEN\s+'([^']*)'\s+AND\s+'([^']*)'(.*)""".r
  private val PredInRe =
    """(?is)^(\w+)\s+IN\s*\(\s*(-?\d+(?:\s*,\s*-?\d+)*)\s*\)(.*)""".r
  private val PredInStrRe =
    """(?is)^(\w+)\s+IN\s*\(\s*('[^']*'(?:\s*,\s*'[^']*')*)\s*\)(.*)""".r
  // = desugars to the degenerate BETWEEN (point lookups without the
  // ceremony); quoted form dispatches to the typed box like BETWEEN
  private val PredEqNumRe = """(?is)^(\w+)\s*=\s*(-?\d+)\b(.*)""".r
  private val PredEqStrRe = """(?is)^(\w+)\s*=\s*'([^']*)'(.*)""".r
  private val AndTailRe = """(?is)^\s+AND\s+(.+)""".r
  private val UpdateRe =
    ("""(?is)\s*GRAFT\s+UPDATE\s+""" + Ref + """\s+SET\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*""").r
  private val AssignRe = """(?is)^(\w+)\s*=\s*(.+)$""".r
  private val AddConstraintRe =
    ("""(?is)\s*GRAFT\s+ALTER\s+""" + Ref + """\s+ADD\s+CONSTRAINT\s+([\w-]+)\s+CHECK\s*\((.+)\)\s*;?\s*""").r
  private val DropConstraintRe =
    ("""(?is)\s*GRAFT\s+ALTER\s+""" + Ref + """\s+DROP\s+CONSTRAINT\s+([\w-]+)\s*;?\s*""").r
  private val ShowConstraintsRe =
    ("""(?is)\s*GRAFT\s+SHOW\s+CONSTRAINTS\s+""" + Ref + """\s*;?\s*""").r
  private val ShowStreamsRe =
    ("""(?is)\s*GRAFT\s+SHOW\s+STREAMS\s+""" + Ref + """\s*;?\s*""").r
  private val ShowPinsRe =
    ("""(?is)\s*GRAFT\s+SHOW\s+PINS\s+""" + Ref + """\s*;?\s*""").r
  private val GraftPrefixRe = """(?is)\s*GRAFT\b.*""".r

  private def attrsOf(fields: (String, org.apache.spark.sql.types.DataType)*)
      : Seq[Attribute] =
    DataTypeUtils.toAttributes(org.apache.spark.sql.types.StructType(
      fields.map { case (n, t) =>
        org.apache.spark.sql.types.StructField(n, t, nullable = false) }))

  /** The layout path a session-catalog graft table stores — `None`
    * when `parts` is a temp view, unknown, or a table of another
    * provider (the caller decides whether that's an error or a
    * pass-through). Accepts 1-part, db-qualified 2-part, and
    * `spark_catalog`-prefixed 3-part names. */
  private[plans] def catalogGraftPath(session: SparkSession,
                                      parts: Seq[String]): Option[String] = {
    val cat = session.sessionState.catalog
    // "spark_catalog" = CatalogManager.SESSION_CATALOG_NAME (the
    // constant is private[sql]; the NAME is a stable public contract)
    val norm = parts match {
      case Seq(c, db, t) if c.equalsIgnoreCase("spark_catalog") =>
        Seq(db, t)
      case p => p
    }
    if (norm.isEmpty || norm.size > 2) None
    else if (cat.isTempView(norm)) None
    else {
      val ident =
        if (norm.size == 2)
          org.apache.spark.sql.catalyst.TableIdentifier(norm(1), Some(norm(0)))
        else org.apache.spark.sql.catalyst.TableIdentifier(norm.head)
      if (!cat.tableExists(ident)) None
      else {
        val meta = cat.getTableMetadata(ident)
        if (!meta.provider.exists(_.equalsIgnoreCase("graft"))) None
        else meta.storage.properties.collectFirst {
          case (k, v) if k.equalsIgnoreCase("path") => v
        }.orElse(meta.storage.locationUri.map(u =>
          new org.apache.hadoop.fs.Path(u).toString))
      }
    }
  }

  /** Resolve a statement's layout reference: a `'quoted'` token IS
    * the path; a bare identifier resolves through the session
    * catalog ([[catalogGraftPath]]) and refuses loudly when it names
    * anything but a registered graft table — a silent fall-through
    * would run a lifecycle verb against a directory named after a
    * typo. */
  private def dirOf(session: SparkSession, ref: String): String =
    if (ref.startsWith("'")) ref.substring(1, ref.length - 1)
    else {
      val parts = ref.split('.').toSeq
      catalogGraftPath(session, parts).getOrElse {
        val why =
          if (session.sessionState.catalog.isTempView(parts))
            "names a TEMPORARY VIEW — GRAFT verbs mutate layouts; " +
              "reference the table registered with CREATE TABLE … " +
              "USING graft, or quote the layout path"
          else "is not a registered graft catalog table — CREATE " +
            "TABLE <name> USING graft OPTIONS (path '…') first, or " +
            "quote the layout path directly ('/path/to/layout')"
        throw new IllegalArgumentException(s"$ref $why")
      }
    }

  import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType}

  def parse(session: SparkSession, delegate: ParserInterface,
            sqlText: String): Option[LogicalPlan] =
    sqlText match {
      case DescribeHistoryRe(ref) =>
        val dir = dirOf(session, ref)
        // schema from the verb's own frame — construction is
        // manifest-sized driver planning, executed (collected) only
        // when the command runs
        val df = Layout.describeHistory(session, dir)
        Some(GraftVerbCommand(DataTypeUtils.toAttributes(df.schema),
          _ => df.collect().toIndexedSeq))
      case DescribeDetailRe(ref) =>
        val dir = dirOf(session, ref)
        val df = Layout.describeLayout(session, dir)
        Some(GraftVerbCommand(DataTypeUtils.toAttributes(df.schema),
          _ => df.collect().toIndexedSeq))
      case OptimizeRe(ref, target, dvRatio) =>
        val dir = dirOf(session, ref)
        // DV RATIO <x> raises the deletion-vector compaction trigger:
        // only files whose dv_rows/n_rows crossed x rewrite (the
        // read-tax hotspots); without it every vectorized file purges
        val ratio = if (dvRatio == null) 0.0 else dvRatio.toDouble
        Some(GraftVerbCommand(
          attrsOf("reclustered" -> BooleanType, "files_before" -> IntegerType,
            "files_after" -> IntegerType, "worst_depth_before" -> LongType,
            "files_kept" -> IntegerType),
          s => {
            val st = Layout.optimizeSelective(s, dir, target.toLong,
              minDvRatio = ratio)
            Seq(Row(st.reclustered, st.filesBefore, st.filesAfter,
              st.worstDepthBefore, st.filesKept))
          }))
      case VacuumRe(ref, retain, force) =>
        val dir = dirOf(session, ref)
        Some(GraftVerbCommand(
          attrsOf("manifests_dropped" -> IntegerType,
            "files_dropped" -> IntegerType),
          s => {
            val (mf, fd) = Layout.vacuumGenerations(s, dir, retain.toInt,
              force = force != null)
            Seq(Row(mf, fd))
          }))
      case RestoreRe(ref, gen, ts) =>
        val dir = dirOf(session, ref)
        Some(GraftVerbCommand(
          attrsOf("committed" -> BooleanType, "files_kept" -> IntegerType,
            "files_copied" -> IntegerType, "files_retired" -> IntegerType),
          s => {
            // TIMESTAMP AS OF resolves through the same per-commit
            // records as the reader option — at-or-before semantics
            val g = if (gen != null) gen.toLong
              else Layout.generationAsOf(s, dir,
                graft.sources.GraftInstants.millisOf(ts))
            val st = Layout.restoreSnapshot(s, dir, g)
            Seq(Row(st.committed, st.filesKept, st.filesCopied,
              st.filesRetired))
          }))
      case CloneRe(ref, gen, dst) =>
        // the pin-the-training-set verb as SQL: a snapshot exported
        // as a standalone layout ([[Layout.cloneSnapshot]] — files
        // copied executor-distributed, manifest rewritten to the
        // copied URIs, carried stats stay exact). Version defaults
        // to the LIVE generation at execution time.
        val dir = dirOf(session, ref)
        Some(GraftVerbCommand(
          attrsOf("generation" -> LongType, "files_copied" -> LongType),
          s => {
            val g = if (gen == null) Layout.currentGeneration(s, dir)
                    else gen.toLong
            Seq(Row(g, Layout.cloneSnapshot(s, dir, g, dst)))
          }))
      case ShowPinsRe(ref) =>
        val dir = dirOf(session, ref)
        // what would block a vacuum, by consumer name — the reader
        // side of the pin coordination (views and CDC streams
        // register; vacuum refuses below the oldest)
        Some(GraftVerbCommand(
          attrsOf("consumer" -> org.apache.spark.sql.types.StringType,
            "pinned_gen" -> LongType),
          s => Layout.snapshotPins(s, dir).toSeq.sortBy(_._1)
            .map { case (c, g) => Row(c, g) }))
      case CreateRe(dir, keys, gens, query) =>
        // CTAS: the AS-tail parses through SPARK'S OWN parser (the
        // dialect never grows a query grammar of its own), so any
        // SELECT the session can run can seed a layout
        val df = org.apache.spark.sql.GraftColumnBridge.frameOf(session,
          delegate.parseQuery(query))
        val keyCols = keys.split(',').map(_.trim).toSeq
        Some(GraftVerbCommand(
          attrsOf("files" -> IntegerType, "rows" -> LongType),
          s => {
            val fs = new org.apache.hadoop.fs.Path(dir)
              .getFileSystem(s.sparkContext.hadoopConfiguration)
            require(!fs.exists(new org.apache.hadoop.fs.Path(dir)),
              s"GRAFT CREATE refuses to overwrite $dir — choose a " +
                "fresh directory, or GRAFT APPEND INTO the existing one")
            df.write.parquet(dir)
            Layout.buildFileManifest(s, dir, keyCols)
              .write.mode("overwrite").parquet(s"$dir/_graft_manifest")
            if (gens != null) Layout.enableGenerations(s, dir)
            val out = s.read.parquet(dir)
            Seq(Row(out.inputFiles.length, out.count()))
          }))
      case AppendRe(ref, mergeSchema, query) =>
        val dir = dirOf(session, ref)
        val df = org.apache.spark.sql.GraftColumnBridge.frameOf(session,
          delegate.parseQuery(query))
        Some(GraftVerbCommand(attrsOf("rows_appended" -> LongType),
          s => {
            // the layout's EXISTING keys govern the new files' stats —
            // the writer never re-states (or silently changes) them.
            // MERGE SCHEMA opts into ADD COLUMN evolution (the
            // canonical-schema sidecar commits first — see
            // appendWithManifest); without it a new column stays a
            // loud error
            Layout.appendWithManifest(df, dir, Layout.storedKeys(s, dir),
              mergeSchema = mergeSchema != null)
            Seq(Row(df.count()))
          }))
      case UpsertRe(ref, keys, query) =>
        val dir = dirOf(session, ref)
        val df = org.apache.spark.sql.GraftColumnBridge.frameOf(session,
          delegate.parseQuery(query))
        val keyCols = keys.split(',').map(_.trim).toSeq
        Some(GraftVerbCommand(
          attrsOf("files_rewritten" -> IntegerType,
            "files_untouched" -> IntegerType, "rows_replaced" -> LongType,
            "rows_upserted" -> LongType),
          s => {
            val st = Layout.upsertByKeys(s, dir, df, keyCols)
            Seq(Row(st.filesRewritten, st.filesUntouched, st.rowsReplaced,
              st.rowsUpserted))
          }))
      case MergeRe(ref, query, keys, whenTail) =>
        val dir = dirOf(session, ref)
        // the lakehouse workhorse, desugared onto the EXISTING verbs
        // (never a third mutation implementation): MATCHED UPDATE +
        // NOT MATCHED INSERT is exactly upsert-by-keys (whole-row
        // replace from the source, source-only keys insert); MATCHED
        // DELETE is the deleteMatching rewrite. Any other WHEN
        // combination is refused with the two supported forms named
        val df = org.apache.spark.sql.GraftColumnBridge.frameOf(session,
          delegate.parseQuery(query))
        val keyCols = keys.split(',').map(_.trim).toSeq
        whenTail.trim match {
          case MergeUpsertRe() =>
            Some(GraftVerbCommand(
              attrsOf("files_rewritten" -> IntegerType,
                "files_untouched" -> IntegerType,
                "rows_replaced" -> LongType, "rows_upserted" -> LongType),
              s => {
                val st = Layout.upsertByKeys(s, dir, df, keyCols)
                Seq(Row(st.filesRewritten, st.filesUntouched,
                  st.rowsReplaced, st.rowsUpserted))
              }))
          case MergeDeleteRe() =>
            Some(GraftVerbCommand(
              attrsOf("files_rewritten" -> IntegerType,
                "rows_deleted" -> LongType),
              s => {
                val st = Layout.deleteMatching(s, dir, df, keyCols)
                Seq(Row(st.filesRewritten, st.rowsDeleted))
              }))
          case other => throw new IllegalArgumentException(
            s"unsupported GRAFT MERGE action clause '$other' — " +
              "supported: WHEN MATCHED THEN UPDATE WHEN NOT MATCHED " +
              "THEN INSERT (upsert semantics: matched rows replaced " +
              "by the source row, unmatched source rows inserted) | " +
              "WHEN MATCHED THEN DELETE (source-matched rows removed)")
        }
      case UpdateRe(ref, setPart, whereTail) =>
        val dir = dirOf(session, ref)
        // SET expressions parse through SPARK'S OWN expression parser
        // (same discipline as the AS-tails — the dialect never grows
        // an expression grammar); assignments split on TOP-LEVEL
        // commas only, so `SET a = f(x, y), b = 2` parses whole
        val assignments = splitTopLevel(setPart).map {
          case AssignRe(c, exprText) =>
            c -> org.apache.spark.sql.GraftColumnBridge.column(
              delegate.parseExpression(exprText))
          case other => throw new IllegalArgumentException(
            s"cannot parse GRAFT UPDATE assignment '$other' — each " +
              "must be <column> = <expression>")
        }
        val boxes = parseBoxes(whereTail)
        Some(GraftVerbCommand(
          attrsOf("files_rewritten" -> IntegerType,
            "files_untouched" -> IntegerType, "rows_updated" -> LongType),
          s => {
            val st = Layout.updateWhere(s, dir, boxes, assignments)
            Seq(Row(st.filesRewritten, st.filesUntouched, st.rowsUpdated))
          }))
      case DeleteRe(ref, whereTail, vect) =>
        val dir = dirOf(session, ref)
        Some(deleteCommand(dir, parseBoxes(whereTail), vect != null))
      case ReplaceRe(ref, whereTail, query) =>
        // the idempotent-backfill statement: delete the region AND
        // insert the query's rows as ONE committed generation
        // ([[Layout.replaceWhere]] — strict containment, constraint
        // checks, pay-for-the-touch classification)
        val dir = dirOf(session, ref)
        val df = org.apache.spark.sql.GraftColumnBridge.frameOf(session,
          delegate.parseQuery(query))
        val boxes = parseBoxes(whereTail)
        Some(GraftVerbCommand(
          attrsOf("files_dropped" -> IntegerType,
            "files_rewritten" -> IntegerType,
            "files_inserted" -> IntegerType,
            "rows_deleted" -> LongType, "rows_inserted" -> LongType),
          s => {
            val st = Layout.replaceWhere(s, dir, df, boxes)
            Seq(Row(st.filesDropped, st.filesRewritten, st.filesInserted,
              st.rowsDeleted, st.rowsInserted))
          }))
      case AddConstraintRe(ref, name, exprText) =>
        val dir = dirOf(session, ref)
        Some(GraftVerbCommand(
          attrsOf("constraints" -> IntegerType),
          s => {
            Layout.addCheckConstraint(s, dir, name, exprText)
            Seq(Row(Layout.checkConstraintsOf(s, dir).size))
          }))
      case DropConstraintRe(ref, name) =>
        val dir = dirOf(session, ref)
        Some(GraftVerbCommand(
          attrsOf("constraints" -> IntegerType),
          s => {
            Layout.dropCheckConstraint(s, dir, name)
            Seq(Row(Layout.checkConstraintsOf(s, dir).size))
          }))
      case ShowStreamsRe(ref) =>
        val dir = dirOf(session, ref)
        // intent columns are null unless an append is in flight or
        // crashed mid-flight — the state the streamAppend refusal
        // messages tell the operator to inspect
        Some(GraftVerbCommand(
          DataTypeUtils.toAttributes(org.apache.spark.sql.types.StructType(
            Seq(org.apache.spark.sql.types.StructField("query_id",
                org.apache.spark.sql.types.StringType, nullable = false),
              org.apache.spark.sql.types.StructField("last_batch",
                LongType, nullable = false),
              org.apache.spark.sql.types.StructField("intent_batch",
                LongType, nullable = true),
              org.apache.spark.sql.types.StructField("intent_gen",
                LongType, nullable = true)))),
          s => Layout.streamLedgers(s, dir)
            .map { case (q, b, ib, ig) =>
              Row(q, b, ib.orNull, ig.orNull) }))
      case ShowConstraintsRe(ref) =>
        val dir = dirOf(session, ref)
        Some(GraftVerbCommand(
          attrsOf("name" -> org.apache.spark.sql.types.StringType,
            "expr" -> org.apache.spark.sql.types.StringType),
          s => Layout.checkConstraintsOf(s, dir).sortBy(_._1)
            .map { case (n, e) => Row(n, e) }))
      case GraftPrefixRe() =>
        // a GRAFT statement that matches no form must fail HERE with
        // the dialect spelled out — falling through to Spark's parser
        // would surface a baffling generic syntax error
        throw new IllegalArgumentException(
          s"unrecognized GRAFT statement: $sqlText — supported forms " +
            "(<t>: a '/path' literal or a CREATE TABLE … USING graft " +
            "catalog name): " +
            "GRAFT DESCRIBE HISTORY <t> | GRAFT DESCRIBE DETAIL " +
            "<t> | GRAFT OPTIMIZE <t> TARGET <n> ROWS " +
            "[DV RATIO <x>] | GRAFT " +
            "VACUUM <t> RETAIN <n> [FORCE] | GRAFT SHOW PINS " +
            "<t> | GRAFT RESTORE <t> " +
            "VERSION AS OF <n> | GRAFT CLONE <t> [VERSION AS OF <n>] " +
            "TO '<dir>' | GRAFT CREATE '<dir>' KEYS (k, …) " +
            "[GENERATIONS] AS <query> | GRAFT APPEND INTO <t> " +
            "[MERGE SCHEMA] AS " +
            "<query> | GRAFT UPSERT INTO <t> KEYS (k, …) AS " +
            "<query> | GRAFT MERGE INTO <t> USING (<query>) ON " +
            "(k, …) WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN " +
            "INSERT / WHEN MATCHED THEN DELETE | " +
            "GRAFT UPDATE <t> SET c = <expr>, … WHERE " +
            "<pred> [AND <pred> …] | GRAFT DELETE FROM <t> WHERE " +
            "<pred> [AND <pred> …] [USING VECTORS] | GRAFT REPLACE " +
            "INTO <t> WHERE <pred> [AND <pred> …] AS <query> (pred: " +
            "<key> " +
            "BETWEEN <lo> AND <hi> | <key> = <v> | <key> IN (<v>, …)) " +
            "| GRAFT ALTER " +
            "<t> ADD " +
            "CONSTRAINT <name> CHECK (<expr>) | GRAFT ALTER <t> " +
            "DROP CONSTRAINT <name> | GRAFT SHOW CONSTRAINTS <t> | " +
            "GRAFT SHOW STREAMS <t>")
      case _ => None
    }

  /** Split on commas at paren depth zero outside string literals —
    * what lets a SET list carry function calls and quoted strings. */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val sb = new StringBuilder
    var depth = 0
    var inStr = false
    for (ch <- s) ch match {
      case '\'' => inStr = !inStr; sb += ch
      case '(' if !inStr => depth += 1; sb += ch
      case ')' if !inStr => depth -= 1; sb += ch
      case ',' if !inStr && depth == 0 => out += sb.toString; sb.clear()
      case c => sb += c
    }
    out += sb.toString
    out.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Parse a WHERE conjunction into prune boxes, front to back. */
  private[plans] def parseBoxes(whereTail: String): Seq[Layout.PruneBox] = {
    val boxes = scala.collection.mutable.ArrayBuffer[Layout.PruneBox]()
    var rest = whereTail.trim
    var done = false
    while (!done) {
      val after = rest match {
        case PredNumRe(k, lo, hi, tail) =>
          boxes += Layout.KeyBox(k, lo.toLong, hi.toLong); tail
        case PredStrRe(k, lo, hi, tail) =>
          boxes += Layout.TypedKeyBox(k, lo, hi); tail
        case PredInRe(k, vs, tail) =>
          boxes += Layout.KeySetBox(k,
            vs.split(',').map(_.trim.toLong).toSeq); tail
        case PredInStrRe(k, vs, tail) =>
          // quoted IN-list → the typed set box (the list splits on
          // commas BETWEEN quotes, so values may hold commas)
          boxes += Layout.TypedKeySetBox(k,
            "'([^']*)'".r.findAllMatchIn(vs).map(_.group(1)).toSeq); tail
        case PredEqNumRe(k, v, tail) =>
          boxes += Layout.KeyBox(k, v.toLong, v.toLong); tail
        case PredEqStrRe(k, v, tail) =>
          boxes += Layout.TypedKeyBox(k, v, v); tail
        case _ => throw new IllegalArgumentException(
          s"cannot parse GRAFT DELETE predicate at '$rest' — each " +
            "conjunct must be <key> BETWEEN <lo> AND <hi>, <key> = <v>, " +
            "or <key> IN (<v>, …) (values numeric or 'quoted'), " +
            "joined with AND")
      }
      after.trim match {
        case "" => done = true
        case _ => after match {
          case AndTailRe(next) => rest = next.trim
          case _ => throw new IllegalArgumentException(
            s"trailing text after a GRAFT DELETE predicate: '${after.trim}'" +
              " — conjuncts join with AND")
        }
      }
    }
    boxes.toSeq
  }

  private def deleteCommand(dir: String, boxes: Seq[Layout.PruneBox],
                            vectors: Boolean): LogicalPlan =
    // USING VECTORS dispatches to the merge-on-read verb, and its
    // output schema says so: partial files take a deletion VECTOR
    // instead of a rewrite, so the column is files_vectorized — a
    // SQL consumer reading the schema can tell which mode ran
    // instead of misreading vectorized files as rewritten ones
    if (vectors)
      GraftVerbCommand(
        attrsOf("files_dropped" -> IntegerType,
          "files_vectorized" -> IntegerType, "rows_deleted" -> LongType),
        s => {
          val st = Layout.deleteWhereDv(s, dir, boxes)
          Seq(Row(st.filesDropped, st.filesVectorized, st.rowsDeleted))
        })
    else
      GraftVerbCommand(
        attrsOf("files_dropped" -> IntegerType,
          "files_rewritten" -> IntegerType, "rows_deleted" -> LongType),
        s => {
          val st = Layout.deleteWhere(s, dir, boxes)
          Seq(Row(st.filesDropped, st.filesRewritten, st.rowsDeleted))
        })
}
