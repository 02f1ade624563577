package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ext.Layout

/** The option markers [[graft.sources.GraftSource]] `tableOf` stamps
  * on every relation it builds — which layout generation the relation
  * serves, whether that generation carries deletion vectors, and
  * whether [[GraftManifestPrune]] already shrank its file list. */
private[plans] object GraftReaderMarker {
  final case class Marker(dir: String, gen: Long, hasDv: Boolean,
                          pruned: Boolean, basePath: Option[String],
                          mixed: Boolean) {
    /** Whether [[GraftDvReadRewrite]] must replace this relation with
      * the snapshot plan: deletion vectors (a raw file scan would
      * resurrect deleted rows) or a mixed-anchor partitioned snapshot
      * (the relation is a one-anchor placeholder, not the table). */
    def substituted: Boolean = hasDv || mixed
  }

  /** The V2 parquet table under the relation — unwrapping the
    * [[graft.sources.GraftTable]] shell `tableOf` serves (reads
    * delegate to this table; the shell exists for the write path). */
  private[plans] def parquetOf(r: DataSourceV2Relation)
      : Option[ParquetTable] = r.table match {
    case g: graft.sources.GraftTable => Some(g.parquet)
    case pt: ParquetTable => Some(pt)
    case _ => None
  }

  def of(r: DataSourceV2Relation): Option[Marker] = parquetOf(r).flatMap {
    pt =>
      for {
        dir <- Option(pt.options.get("graft.layout.dir"))
        gen <- Option(pt.options.get("graft.layout.gen"))
      } yield Marker(dir, gen.toLong,
        "true".equalsIgnoreCase(pt.options.get("graft.layout.dv")),
        "true".equalsIgnoreCase(pt.options.get("graft.pruned")),
        Option(pt.options.get("basePath")),
        "true".equalsIgnoreCase(pt.options.get("graft.layout.mixed")))
  }
}

/** Deletion-vector application for the `graft` DataSourceV2 reader —
  * the OPTIMIZER half of merge-on-read: a V2 FILE relation serves
  * raw parquet bytes and cannot anti-join vectors, so when the
  * resolved generation carries any ([[graft.sources.GraftSource]]
  * stamps `graft.layout.dv`), this rule REPLACES the relation with
  * the plan [[graft.ext.Layout.readSnapshot]] builds for that very
  * generation — the one existing implementation of snapshot + DV
  * semantics (resolve live-or-retired, split DV-free files onto the
  * plain scan, anti-join the referenced stores on the parquet
  * metadata identity).
  *
  * The rule runs in the operator-optimization batch (after Spark's
  * own predicate pushdown has run within the same iteration), so a
  * Filter sitting on the relation is VISIBLE here — and its pushable
  * conjuncts translate through the same [[GraftPruneBoxes.boxesOf]]
  * vocabulary [[GraftManifestPrune]] uses, substituting
  * [[graft.ext.Layout.readSnapshotPruned]] instead: a merge-on-read
  * table KEEPS manifest data skipping through plain SQL (at 100 TB,
  * `WHERE key BETWEEN …` on a table with one DV'd file still opens
  * three files, not the manifest's worth). The query's own Filter
  * stays as the residual above the substitution, so pruned ≡ full
  * snapshot scan by the scanPruned construction. The substituted
  * child is the snapshot frame's OPTIMIZED plan (no alias/analysis
  * residue reaches physical planning), and the driver-side inputs it
  * needs — the generation's (file, dv_path) rows, with or without
  * skipping — come off the generation's cached manifest snapshot
  * ([[graft.ext.ManifestSnapshot]], keyed by the manifest's part-file
  * listing) and the data reads carry its known schema, so
  * re-analysis (explain, AQE, repeated queries) costs plan
  * construction and listings, never a manifest or schema job.
  *
  * Output fidelity: the replacement is wrapped in a Project aliasing
  * each snapshot column back to the relation's own attribute
  * (name-resolved, exprIds preserved), so nothing upstream
  * re-resolves; a name or type mismatch — impossible while both
  * sides derive from the same layout schema — fails loudly rather
  * than mis-mapping a column. Each match builds a FRESH snapshot
  * plan (fresh exprIds), so self-joins of a DV generation stay
  * well-formed.
  *
  * The same substitution serves MIXED-ANCHOR partitioned snapshots
  * (`graft.layout.mixed`): a historical generation whose files
  * resolve under MORE THAN ONE anchor (live + retirement labels)
  * cannot be one V2 file relation — partition columns re-derive from
  * a single basePath — so `tableOf` builds a schema-correct
  * placeholder and this rule swaps in the per-anchor union
  * `readSnapshot` already is.
  *
  * Installed by [[graft.GraftExtensions]] `injectOptimizerRule`;
  * sessions without the extensions are refused at `tableOf` time
  * (never a silent raw read that would resurrect deleted rows or
  * serve one anchor as the table). */
case class GraftDvReadRewrite(session: SparkSession)
    extends Rule[LogicalPlan] {
  import GraftPruneBoxes.boxesOf

  override def apply(plan: LogicalPlan): LogicalPlan =
    // top-down: the Filter-over-relation case must claim the pair
    // before the bare-relation case sees the child
    plan.transformDown {
      case Filter(cond, r: DataSourceV2Relation)
          if GraftReaderMarker.of(r).exists(_.substituted) =>
        val m = GraftReaderMarker.of(r).get
        val boxes = Layout.snapshotManifestSchema(session, m.dir, m.gen)
          .map(ms => boxesOf(cond, ms))
          .getOrElse(Nil)
        val snap =
          if (boxes.nonEmpty)
            Layout.readSnapshotPruned(session, m.dir, m.gen, boxes)
          else Layout.readSnapshot(session, m.dir, m.gen)
        Filter(cond, substitute(r, m, snap))
      case r: DataSourceV2Relation
          if GraftReaderMarker.of(r).exists(_.substituted) =>
        val m = GraftReaderMarker.of(r).get
        substitute(r, m, Layout.readSnapshot(session, m.dir, m.gen))
    }

  private def substitute(r: DataSourceV2Relation,
                         m: GraftReaderMarker.Marker,
                         snap: org.apache.spark.sql.DataFrame): LogicalPlan = {
    val child = snap.queryExecution.optimizedPlan
    val resolver = session.sessionState.conf.resolver
    val aliases: Seq[NamedExpression] = r.output.map { a =>
      child.output.filter(c => resolver(c.name, a.name)) match {
        case Seq(one) =>
          require(one.dataType == a.dataType,
            s"graft DV read of ${m.dir} gen=${m.gen}: column " +
              s"${a.name} resolves as ${one.dataType} in the " +
              s"snapshot but ${a.dataType} in the relation — " +
              "schema sidecar and manifest disagree")
          Alias(one, a.name)(exprId = a.exprId,
            qualifier = a.qualifier)
        case other => throw new IllegalStateException(
          s"graft DV read of ${m.dir} gen=${m.gen} cannot map " +
            s"relation column ${a.name} onto the snapshot plan " +
            s"(${other.size} candidates of " +
            s"${child.output.map(_.name).mkString(", ")})")
      }
    }
    Project(aliases, child)
  }
}

/** Manifest data skipping for the `graft` DataSourceV2 reader — the
  * optimizer half: a Filter directly above a marked graft relation
  * translates its pushable conjuncts into the SAME prune boxes the
  * Scala path uses, drops every file the generation manifest's
  * min/max/bloom stats PROVE disjoint
  * ([[graft.ext.Layout.prunedSnapshotFileAnchors]] — one skip
  * semantics, shared with [[graft.ext.Layout.scanPruned]]), and
  * swaps the relation's table for one over the survivors. The
  * query's own Filter STAYS as the residual, so pruned ≡ full scan
  * by construction — a box is only ever a SUPERSET of its conjunct's
  * satisfying set (strict bounds widen to closed ones; timestamp
  * ranges AND IN-lists carry epoch-micro instants — no string
  * render, so they prune exactly in every session zone; conjuncts
  * the translator cannot prove simply emit no box).
  *
  * At 100 TB this is the lever that makes the SQL surface usable on
  * the most common query shape: `WHERE key BETWEEN …` through
  * `format("graft")` opens the three overlapping files, not the
  * whole table — the same file-list shrink Delta/Iceberg planning
  * does with their stats, done here as a logical rewrite so Spark's
  * own parquet pushdown, column pruning, and vectorized reads apply
  * to the survivors unchanged.
  *
  * Scope guards: generation-TRACKED layouts only (an untracked
  * manifest mutates in place under the relation); DV-bearing
  * snapshots never reach here ([[GraftDvReadRewrite]] replaced them
  * at analysis); a partitioned relation only prunes while every
  * survivor still resolves under its single basePath anchor; a
  * relation is marked `graft.pruned` so the fixed-point batch
  * converges after one rewrite. Zero survivors collapse to an empty
  * [[LocalRelation]] (exact: no file can hold a match). */
case class GraftManifestPrune(session: SparkSession)
    extends Rule[LogicalPlan] {
  import GraftPruneBoxes.boxesOf

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case f @ Filter(cond, r: DataSourceV2Relation) =>
        GraftReaderMarker.of(r) match {
          case Some(m) if !m.substituted && !m.pruned =>
            Layout.snapshotManifestSchema(session, m.dir, m.gen) match {
              case Some(mSchema) =>
                val boxes = boxesOf(cond, mSchema)
                if (boxes.isEmpty) f
                else prune(f, cond, r, m, boxes)
              case None => f // untracked layout: manifest is mutable
            }
          case _ => f
        }
    }

  private def prune(f: Filter, cond: Expression, r: DataSourceV2Relation,
                    m: GraftReaderMarker.Marker,
                    boxes: Seq[Layout.PruneBox]): LogicalPlan = {
    val pairs = Layout.prunedSnapshotFileAnchors(session, m.dir, m.gen,
      boxes)
    // a partitioned relation re-derives its partition columns from
    // ONE basePath; a survivor retired since table creation anchors
    // elsewhere — skip pruning rather than mis-derive (the unpruned
    // relation resolved its whole list at creation time)
    if (m.basePath.exists(bp => pairs.exists(_._1 != bp))) return f
    if (pairs.isEmpty)
      // no file can contain a match: exact empty result, scan-free
      return Filter(cond, LocalRelation(r.output))
    // the pruned relation is read-only by construction (writes target
    // the live layout through a fresh load), so the bare ParquetTable
    // replaces the wrapper
    val pt = GraftReaderMarker.parquetOf(r).get
    val opts = new java.util.HashMap[String, String](
      pt.options.asCaseSensitiveMap())
    opts.put("graft.pruned", "true")
    val newTable = ParquetTable(pt.name, session,
      new CaseInsensitiveStringMap(opts), pairs.map(_._2).toIndexedSeq,
      pt.userSpecifiedSchema, classOf[ParquetFileFormat])
    Filter(cond, r.copy(table = newTable))
  }
}

/** Conjunct → prune-box translation, shared vocabulary with the
  * Scala path's [[graft.ext.Layout.PruneBox]] family. Every emitted
  * box is a PROVABLE SUPERSET of its conjuncts' satisfying set for
  * that column — the only property pruning needs, since the query's
  * Filter re-applies the exact predicate over the survivors. */
private[plans] object GraftPruneBoxes {

  private def statType(mSchema: StructType, c: String): Option[DataType] =
    if (mSchema.fieldNames.contains(s"min_$c"))
      Some(mSchema(s"min_$c").dataType)
    else None

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case o => Seq(o)
  }

  private def longOf(l: Literal): Option[Long] = l.dataType match {
    case ByteType | ShortType | IntegerType | LongType =>
      Option(l.value).map(_.toString.toLong)
    case _ => None
  }

  private def dayStr(days: Int): String =
    java.time.LocalDate.ofEpochDay(days.toLong).toString

  // per-column range accumulation; strict bounds widen to closed
  // (superset — see the object doc)
  private final class Range[T](implicit ord: Ordering[T]) {
    var lo: Option[T] = None
    var hi: Option[T] = None
    def addLo(v: T): Unit = lo = Some(lo.fold(v)(ord.max(_, v)))
    def addHi(v: T): Unit = hi = Some(hi.fold(v)(ord.min(_, v)))
  }

  def boxesOf(cond: Expression, mSchema: StructType)
      : Seq[Layout.PruneBox] = {
    val longRanges =
      scala.collection.mutable.LinkedHashMap[String, Range[Long]]()
    val dateRanges =
      scala.collection.mutable.LinkedHashMap[String, Range[Int]]()
    val tsRanges =
      scala.collection.mutable.LinkedHashMap[String, Range[Long]]()
    val strRanges =
      scala.collection.mutable.LinkedHashMap[String, Range[String]]()
    val sets = scala.collection.mutable.ArrayBuffer[Layout.KeySetBox]()
    val typedSets =
      scala.collection.mutable.ArrayBuffer[Layout.TypedKeySetBox]()
    val tsSets =
      scala.collection.mutable.ArrayBuffer[Layout.TsMicrosSetBox]()

    def addBound(a: AttributeReference, l: Literal, isLo: Boolean,
                 isHi: Boolean): Unit =
      statType(mSchema, a.name).foreach {
        case LongType => longOf(l).foreach { v =>
          val r = longRanges.getOrElseUpdate(a.name, new Range[Long])
          if (isLo) r.addLo(v)
          if (isHi) r.addHi(v)
        }
        case DateType if l.dataType == DateType =>
          Option(l.value).foreach { v =>
            val r = dateRanges.getOrElseUpdate(a.name, new Range[Int])
            if (isLo) r.addLo(v.asInstanceOf[Int])
            if (isHi) r.addHi(v.asInstanceOf[Int])
          }
        case TimestampType if l.dataType == TimestampType =>
          // any session zone: the range emits a TsMicrosBox, whose
          // bounds are epoch-micro INSTANTS — no string render, no
          // bijectivity concern (IN-lists take TsMicrosSetBox, same
          // argument)
          Option(l.value).foreach { v =>
            val r = tsRanges.getOrElseUpdate(a.name, new Range[Long])
            if (isLo) r.addLo(v.asInstanceOf[Long])
            if (isHi) r.addHi(v.asInstanceOf[Long])
          }
        case StringType if l.dataType == StringType =>
          Option(l.value).foreach { v =>
            val r = strRanges.getOrElseUpdate(a.name, new Range[String])
            if (isLo) r.addLo(v.toString)
            if (isHi) r.addHi(v.toString)
          }
        case _ => () // NTZ / exotic stats: no box, stay exact
      }

    def addSet(a: AttributeReference, vs: Seq[Long]): Unit =
      statType(mSchema, a.name) match {
        case Some(LongType) if vs.nonEmpty =>
          sets += Layout.KeySetBox(a.name, vs)
        case _ => ()
      }

    // typed IN-lists: timestamp elements keep their epoch-micro
    // instants (TsMicrosSetBox — zone-independent); date/string
    // elements render to the string form TypedKeySetBox takes.
    // Elements that fail to conform (exotic types) drop the WHOLE
    // set — a partial set would claim rows the conjunct matches
    // elsewhere don't exist.
    def addTypedSet(a: AttributeReference, ls: Seq[Literal]): Unit =
      statType(mSchema, a.name).foreach { st =>
        // null elements drop (IN's three-valued semantics: a null
        // element matches no row through the residual); any OTHER
        // non-conforming element drops the whole set — a partial
        // set would wrongly prune files holding its rows
        val nonNull = ls.filter(_.value != null)
        st match {
          case TimestampType =>
            // instants, not strings — a TsMicrosSetBox prunes in
            // every session zone
            val micros: Seq[Option[Long]] = nonNull.map { l =>
              if (l.dataType == TimestampType)
                Some(l.value.asInstanceOf[Long])
              else None
            }
            if (micros.nonEmpty && micros.forall(_.isDefined))
              tsSets += Layout.TsMicrosSetBox(a.name, micros.flatten)
          case DateType | StringType =>
            val rendered: Seq[Option[String]] = nonNull.map { l =>
              (st, l.dataType) match {
                case (DateType, DateType) =>
                  Some(dayStr(l.value.asInstanceOf[Int]))
                case (StringType, StringType) => Some(l.value.toString)
                case _ => None
              }
            }
            if (rendered.nonEmpty && rendered.forall(_.isDefined))
              typedSets += Layout.TypedKeySetBox(a.name, rendered.flatten)
          case _ => () // long keys take KeySetBox; exotic stats: no box
        }
      }

    splitConjuncts(cond).foreach {
      case EqualTo(a: AttributeReference, l: Literal) =>
        addBound(a, l, isLo = true, isHi = true)
      case EqualTo(l: Literal, a: AttributeReference) =>
        addBound(a, l, isLo = true, isHi = true)
      case GreaterThan(a: AttributeReference, l: Literal) =>
        addBound(a, l, isLo = true, isHi = false)
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        addBound(a, l, isLo = true, isHi = false)
      case LessThan(a: AttributeReference, l: Literal) =>
        addBound(a, l, isLo = false, isHi = true)
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        addBound(a, l, isLo = false, isHi = true)
      case GreaterThan(l: Literal, a: AttributeReference) =>
        addBound(a, l, isLo = false, isHi = true)
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        addBound(a, l, isLo = false, isHi = true)
      case LessThan(l: Literal, a: AttributeReference) =>
        addBound(a, l, isLo = true, isHi = false)
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        addBound(a, l, isLo = true, isHi = false)
      case In(a: AttributeReference, vs)
          if vs.forall(_.isInstanceOf[Literal]) =>
        // null elements drop: `k IN (1, null)` only ever keeps k = 1
        // rows through the residual filter
        val ls = vs.collect { case l: Literal => l }
        addSet(a, ls.flatMap(longOf))
        addTypedSet(a, ls)
      case InSet(a: AttributeReference, vs) =>
        if (statType(mSchema, a.name).contains(LongType) &&
            a.dataType == LongType)
          addSet(a, vs.toSeq.collect { case v: java.lang.Long =>
            v.longValue() })
        else addTypedSet(a,
          // InSet holds internal-form values (UTF8String / days /
          // micros) — wrap with the internal-form constructor, never
          // Literal.create (which converts EXTERNAL forms)
          vs.toSeq.map(v => Literal(v, a.dataType)))
      case _ => () // unprovable conjunct: no box, residual keeps it exact
    }

    val longBoxes = longRanges.collect {
      case (c, r) if r.lo.isDefined || r.hi.isDefined =>
        // Long.Min/Max are the type's TRUE extremes — exact, unlike
        // the typed sentinels below which therefore don't exist
        Layout.KeyBox(c, r.lo.getOrElse(Long.MinValue),
          r.hi.getOrElse(Long.MaxValue))
    }.toSeq
    // typed ranges: closed intervals keep the two-bound TypedKeyBox;
    // a HALF-OPEN range emits a TypedBoundsBox with the missing side
    // absent — never a finite string sentinel, which could not cover
    // the type's full domain (Spark dates/timestamps extend beyond
    // year 9999 and before year 1, so `ts > X` with a '9999-…'
    // sentinel would wrongly prune a file of post-9999 rows,
    // breaking the box ⊇ conjunct superset contract)
    def typedBoxes[T](ranges: scala.collection.mutable.LinkedHashMap[
        String, Range[T]], render: T => String): Seq[Layout.PruneBox] =
      ranges.collect {
        case (c, r) if r.lo.isDefined && r.hi.isDefined =>
          Layout.TypedKeyBox(c, render(r.lo.get), render(r.hi.get))
        case (c, r) if r.lo.isDefined || r.hi.isDefined =>
          Layout.TypedBoundsBox(c, r.lo.map(render), r.hi.map(render))
      }.toSeq
    val dateBoxes = typedBoxes[Int](dateRanges, dayStr)
    // timestamp ranges carry their epoch-micro instants verbatim —
    // exact in every session zone, closed or half-open alike
    val tsBoxes = tsRanges.collect {
      case (c, r) if r.lo.isDefined || r.hi.isDefined =>
        Layout.TsMicrosBox(c, r.lo, r.hi)
    }.toSeq
    val strBoxes = typedBoxes[String](strRanges, identity)
    longBoxes ++ dateBoxes ++ tsBoxes ++ strBoxes ++ sets.toSeq ++
      typedSets.toSeq ++ tsSets.toSeq
  }
}
