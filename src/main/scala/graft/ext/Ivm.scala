package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental view maintenance for distributive aggregates — keep a
  * materialized `GROUP BY` result current under a signed change feed
  * instead of recomputing it from the fact table. At 100 TB the
  * difference is the whole point of a materialized view: maintenance
  * cost is proportional to |changes| + |state| (the state is
  * group-count-sized, thousands of rows, not the fact's billions),
  * while a recompute re-shuffles the full table every refresh.
  *
  * The classic IVM boundary, enforced here rather than fudged:
  * COUNT and SUM are self-maintainable under inserts AND deletes
  * (AVG derives as sum/count), but MIN/MAX are not — a delete of the
  * current minimum needs the data to find the runner-up — so this
  * module deliberately offers no min/max maintenance. Re-derive those
  * with [[Layout.minMaxFromManifest]]: the manifest's per-file stats,
  * kept current by every mutation verb, compose global min/max in one
  * file-count-sized metadata job.
  *
  * Reference semantics (what the DuckDB gate re-derives): the
  * maintained state after applying a feed EQUALS the aggregate
  * recomputed over the base multiset with every `+1` row added and
  * every `-1` row removed.
  */
object Ivm {

  /** Full recompute of the maintainable aggregate — the bootstrap
    * that materializes a view's initial state, and the twin every
    * maintenance result must equal. Output: `keys`, `cnt`, one
    * `sum_<c>` per sum column. */
  def aggregateOf(df: DataFrame, keys: Seq[String],
                  sumCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "aggregateOf needs at least one group key")
    // key names must stay distinguishable from the aggregate columns:
    // the join-state machinery infers a partial's shape from its
    // column names (everything that is not `cnt`/`sum_*` is a key), so
    // a key named like an aggregate would silently mis-shape every
    // later join/maintenance pass
    for (k <- keys) require(k != "cnt" && !k.startsWith("sum_"),
      s"group key $k collides with the state's aggregate column " +
        "namespace (cnt / sum_*) — rename it before aggregating")
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"),
        sumCols.map(c => sum(col(c)).as(s"sum_$c")): _*)
  }

  /** Split a partial-state frame into (key columns, sum-column base
    * names): everything that is not `cnt` or `sum_*` is a key. The
    * inverse of [[aggregateOf]]'s output shape — [[aggregateOf]]
    * refuses key names that would collide with the aggregate
    * namespace, so the split is unambiguous. */
  private def partialShapeOf(state: DataFrame): (Seq[String], Seq[String]) = {
    require(state.columns.contains("cnt"),
      s"not a partial state (no cnt column; has " +
        s"${state.columns.mkString(", ")})")
    val sums = state.columns.filter(_.startsWith("sum_"))
      .map(_.stripPrefix("sum_")).toSeq
    val keys = state.columns
      .filterNot(c => c == "cnt" || c.startsWith("sum_")).toSeq
    (keys, sums)
  }

  /** Fold a SIGNED row feed (`opCol` ∈ {+1, −1}) into a signed
    * partial: one row per touched group with `cnt = Σop` and
    * `sum_<c> = Σ c·op` — the churn-priced compression every
    * maintenance verb merges. The ±1 contract is validated in the
    * SAME single pass that builds the partial (a null or non-signed
    * op would silently corrupt counts), and the result is eagerly
    * pinned so its two consumers (side maintenance + delta join)
    * never re-read the feed. */
  def signedPartialOf(changes: DataFrame, keys: Seq[String],
                      sumCols: Seq[String],
                      opCol: String = "op"): DataFrame = {
    require(keys.nonEmpty, "signedPartialOf needs at least one key")
    val invalid = col(opCol).isNull ||
      (col(opCol) =!= lit(1) && col(opCol) =!= lit(-1))
    val delta = changes.groupBy(keys.map(col): _*)
      .agg(sum(col(opCol)).cast("long").as("cnt"),
        sumCols.map(c => sum(col(c) * col(opCol)).as(s"sum_$c")) :+
          count(when(invalid, lit(1))).as("__graft_bad"): _*)
      .localCheckpoint(true)
    val bad = delta.filter(col("__graft_bad") > 0L)
      .select(keys.map(col): _*).head(1)
    require(bad.isEmpty,
      s"change feed carries null or non-signed $opCol values (e.g. in " +
        s"group ${bad.headOption}) — ops must be +1 (insert) or -1 (delete)")
    delta.drop("__graft_bad")
  }

  /** Apply a SIGNED change feed to a materialized aggregate state:
    * `changes` carries data rows plus `opCol` ∈ {+1 insert, −1
    * delete}; an UPDATE is its delete+insert pair, in one feed or
    * across feeds. Returns the new state — `unionByName` of the old
    * state with the feed's group-sums, re-aggregated: one shuffle of
    * |state| + |distinct touched groups| rows, never the fact table.
    * Groups whose count reaches zero VANISH (their sums are
    * definitionally zero then — dropping the row, not keeping a
    * zero-count husk, is what makes maintain ≡ recompute exact).
    *
    * Loud contracts, checked before anything is returned: `opCol`
    * values other than ±1 are refused (a feed of quantities where
    * signs were expected would silently corrupt counts), and a group
    * whose maintained count goes NEGATIVE is refused by name — the
    * feed deleted rows the view never saw, which no ordering of a
    * correct delete+insert stream produces. Both probes run on
    * state-sized frames. */
  def maintainAgg(state: DataFrame, changes: DataFrame,
                  keys: Seq[String], sumCols: Seq[String],
                  opCol: String = "op"): DataFrame = {
    require(keys.nonEmpty, "maintainAgg needs at least one group key")
    for (k <- keys) require(state.columns.contains(k),
      s"group key $k is not a column of the state " +
        s"(has ${state.columns.mkString(", ")})")
    val expected = (Seq("cnt") ++ sumCols.map(c => s"sum_$c")).toSet
    // EXACT shape, not subset: maintaining with a subset of the
    // view's sum columns would silently drop the others from the
    // returned state — a permanent loss, not a transient misread
    require(state.columns.toSet.diff(keys.toSet) == expected,
      s"state is not an aggregateOf(keys=$keys, sums=$sumCols) frame; " +
        s"has ${state.columns.mkString(", ")}")
    // signedPartialOf refuses NULL / non-±1 ops in the SAME single
    // pass that builds the delta (checkpointed once), so the
    // advertised cost — one feed pass plus one state-sized shuffle —
    // holds
    val delta = signedPartialOf(changes, keys, sumCols, opCol)
    requireMergeCompatible(state, delta, sumCols, "change feed")
    mergeStates(state, delta, keys, sumCols)
  }

  /** TYPES too, not just names — the check every maintenance verb
    * runs before unioning a signed delta into a held state: a feed
    * whose summed type differs from the state's (a double feed onto a
    * long-sum state) would silently retype the maintained state
    * through unionByName coercion — permanently changing exactness of
    * later maintenance. Compared on the AGGREGATED delta (sum of an
    * int feed is long, matching aggregateOf), so a consistent feed
    * always passes. Decimals compare by SCALE only: Spark widens
    * sum(c), sum(c*op), and a persisted-then-re-merged state to
    * DIFFERENT precisions for the very same column, and precision
    * widening under union keeps the arithmetic exact — same scale is
    * the invariant that matters. ONE implementation so
    * [[maintainAgg]] and [[maintainJoinAgg]] cannot fork on it (a
    * strict-equality fork is precisely what would make a persisted
    * decimal join view permanently unrefreshable once mergeStates
    * widens its stored precision). */
  private def requireMergeCompatible(holder: DataFrame, delta: DataFrame,
                                     sumCols: Seq[String],
                                     what: String): Unit =
    for (c <- "cnt" +: sumCols.map(s => s"sum_$s")) {
      val (heldT, deltaT) =
        (holder.schema(c).dataType, delta.schema(c).dataType)
      val compatible = heldT == deltaT || ((heldT, deltaT) match {
        case (s: org.apache.spark.sql.types.DecimalType,
              d: org.apache.spark.sql.types.DecimalType) => s.scale == d.scale
        case _ => false
      })
      require(compatible,
        s"$what aggregates $c as $deltaT but the state holds " +
          s"$heldT — a union would silently retype the maintained " +
          "state; cast the feed to the state's element type")
    }

  /** The shared merge tail of every maintenance verb: union the old
    * state with a PRE-AGGREGATED signed delta (`keys`, `cnt`,
    * `sum_<c>` — possibly several rows per group), re-aggregate,
    * refuse negative counts loudly, and vanish zero-count groups.
    * ONE implementation so [[maintainAgg]] and [[maintainJoinAgg]]
    * cannot fork on the vanish/negative semantics. */
  private def mergeStates(state: DataFrame, delta: DataFrame,
                          keys: Seq[String],
                          sumCols: Seq[String]): DataFrame = {
    val ordered = keys ++ Seq("cnt") ++ sumCols.map(c => s"sum_$c")
    val merged = state.select(ordered.map(col): _*)
      .unionByName(delta.select(ordered.map(col): _*))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("cnt")).as("cnt"),
        sumCols.map(c => sum(col(s"sum_$c")).as(s"sum_$c")): _*)
      // eagerly pinned: the negative-count probe and the returned
      // frame must not re-run the union+aggregate twice. State-sized;
      // Spark's context cleaner reclaims it once the caller drops the
      // reference
      .localCheckpoint(true)
    val neg = merged.filter(col("cnt") < 0L)
      .select(keys.map(col): _*).head(1)
    require(neg.isEmpty,
      s"change feed drove group ${neg.headOption} to a negative count " +
        "— it deleted rows the view never saw")
    merged.filter(col("cnt") > 0L).select(ordered.map(col): _*)
  }

  /** Signed-multiset COMPRESSION of a relation over `cols`: one row
    * per distinct tuple with its multiplicity `cnt`. Exactly
    * [[aggregateOf]] with no sum columns. For a JOIN view's side
    * state, prefer the FULL [[aggregateOf]] form keyed by (joinKeys ++
    * that side's group/where columns) with the side's measures as
    * `sum_<c>` partials: a measure kept RAW in the multiset key makes
    * the state near-unique per row — effectively the fact table
    * re-materialized — while the partial form collapses it to the
    * distinct (joinKey, groupKeys) tuples, orders of magnitude
    * smaller. Sums distribute over the delta-join's weights, so
    * maintenance stays exact either way. */
  def multisetOf(df: DataFrame, cols: Seq[String]): DataFrame =
    aggregateOf(df, cols, Nil)

  /** Maintain a [[multisetOf]] state under a signed feed — the same
    * ±1 contracts and vanish-at-zero rule as [[maintainAgg]] (it IS
    * maintainAgg with no sums). */
  def maintainMultiset(state: DataFrame, changes: DataFrame,
                       cols: Seq[String],
                       opCol: String = "op"): DataFrame =
    maintainAgg(state, changes, cols, Nil, opCol)

  /** Weighted join of two PARTIAL states/deltas — the one kernel the
    * whole join-view family rides on. Each side is an [[aggregateOf]]
    * (or [[signedPartialOf]]) frame: key columns + `cnt` + `sum_<c>`
    * partials. For a matched pair of side groups the joined group
    * contributes `cnt_a × cnt_b` to the count, `sum_a_c × cnt_b` to a
    * sum owned by A, and `cnt_a × sum_b_c` to a sum owned by B —
    * exact because COUNT/SUM distribute over the group partition, so
    * the raw (a-row, b-row) pairs never materialize. Output: a
    * partial over `outKeys` with `sum_<c>` per `outSums` entry —
    * signed iff an input is signed. The WHERE predicate (evaluated
    * over the joined KEY columns — the shape checks guarantee every
    * predicate column is a key) filters per joined group, which is
    * per-row membership since key columns are constant within a
    * group: σ commutes with the delta-join. */
  private def joinPartials(a: DataFrame, b: DataFrame,
                           joinKeys: Seq[String], outKeys: Seq[String],
                           outSums: Seq[String],
                           where: Option[String]): DataFrame = {
    val (_, aSums) = partialShapeOf(a)
    val (_, bSums) = partialShapeOf(b)
    val a2 = aSums.foldLeft(a.withColumnRenamed("cnt", "__graft_cnt_a")) {
      (d, c) => d.withColumnRenamed(s"sum_$c", s"__graft_sum_a_$c") }
    val b2 = bSums.foldLeft(b.withColumnRenamed("cnt", "__graft_cnt_b")) {
      (d, c) => d.withColumnRenamed(s"sum_$c", s"__graft_sum_b_$c") }
    val joined0 = a2.join(b2, joinKeys)
    val joined = where.fold(joined0)(p => joined0.filter(expr(p)))
    val cntW = col("__graft_cnt_a") * col("__graft_cnt_b")
    val sumAggs = outSums.map { c =>
      val e =
        if (aSums.contains(c)) col(s"__graft_sum_a_$c") * col("__graft_cnt_b")
        else col("__graft_cnt_a") * col(s"__graft_sum_b_$c")
      sum(e).as(s"sum_$c")
    }
    joined.groupBy(outKeys.map(col): _*)
      .agg(sum(cntW).cast("long").as("cnt"), sumAggs: _*)
  }

  /** Full recompute of a JOIN-view aggregate from the two sides'
    * PARTIAL states — the bootstrap that materializes the view and
    * the twin every [[maintainJoinAgg]] result must equal. The view
    * is `SELECT groupKeys, count(*), sum(c)... FROM A JOIN B USING
    * (joinKeys) GROUP BY groupKeys`, computed over the factorized
    * form: each side state is an [[aggregateOf]] frame keyed by
    * (joinKeys ++ that side's group/where columns) carrying `cnt` and
    * `sum_<c>` for the sum columns that side owns — group-count-sized,
    * never the base table — and a matched pair of side groups weights
    * the aggregate by the product formulas in [[joinPartials]].
    * Output: `groupKeys`, `cnt`, one `sum_<c>` per sum column. */
  def aggregateOfJoin(aState: DataFrame, bState: DataFrame,
                      joinKeys: Seq[String], groupKeys: Seq[String],
                      sumCols: Seq[String],
                      where: Option[String] = None): DataFrame = {
    requireJoinShapes(aState, bState, joinKeys, groupKeys, sumCols, where)
    joinPartials(aState, bState, joinKeys, groupKeys, sumCols, where)
  }

  /** The contracts [[aggregateOfJoin]] and [[maintainJoinAgg]] share:
    * join keys live on BOTH sides under the same names, every other
    * name (key or sum) is unambiguous (on exactly one side), every
    * sum column is PRE-AGGREGATED (`sum_<c>`) on exactly one side,
    * and the group/WHERE columns all resolve as key columns. Checked
    * loudly up front — a name collision would otherwise surface as a
    * confusing ambiguous-reference analysis error deep inside the
    * delta join. */
  private def requireJoinShapes(aState: DataFrame, bState: DataFrame,
                                joinKeys: Seq[String],
                                groupKeys: Seq[String],
                                sumCols: Seq[String],
                                where: Option[String]): Unit = {
    require(joinKeys.nonEmpty, "join view needs at least one join key")
    require(groupKeys.nonEmpty, "join view needs at least one group key")
    val (aKeys, aSums) = partialShapeOf(aState)
    val (bKeys, bSums) = partialShapeOf(bState)
    for (k <- joinKeys) require(aKeys.contains(k) && bKeys.contains(k),
      s"join key $k must be a column of BOTH side states " +
        s"(a: ${aKeys.mkString(", ")}; b: ${bKeys.mkString(", ")})")
    val shared = ((aKeys ++ aSums).toSet intersect
      (bKeys ++ bSums).toSet) -- joinKeys
    require(shared.isEmpty,
      s"side states share non-join columns ${shared.mkString(", ")} — " +
        "rename one side so every view column is unambiguous")
    for (c <- sumCols)
      require(aSums.contains(c) || bSums.contains(c),
        s"sum column $c is pre-aggregated on neither side state — " +
          s"build the owning side with aggregateOf(keys, sums=$c) so " +
          s"it carries a sum_$c partial")
    for (g <- groupKeys)
      require(aKeys.contains(g) || bKeys.contains(g),
        s"view column $g is on neither side state")
    for (w <- whereColsOf(where))
      require(aKeys.contains(w) || bKeys.contains(w),
        s"WHERE column $w is not a key column of either side state — " +
          "predicate columns must ride in the state keys")
  }

  /** Incremental maintenance of an aggregate over `A ⋈ B` under
    * signed change feeds on EITHER side — the textbook delta-join:
    * {{{
    *   Δ(A ⋈ B) = ΔA ⋈ B_old  ∪  A_new ⋈ ΔB
    * }}}
    * (exact: the second term's `A_new = A_old + ΔA` absorbs the
    * `ΔA ⋈ ΔB` cross term). The module keeps each side as a PARTIAL
    * state ([[aggregateOf]] keyed by joinKeys ++ that side's
    * group/where columns, with `sum_<c>` for the measures it owns) —
    * NOT the table, and not a row-distinct multiset either: a measure
    * rides as a distributive partial, so the state size is the
    * distinct (joinKey, groupKeys) tuple count even when the measure
    * is near-unique per row. Maintenance cost is
    * `|ΔA|·selectivity + |ΔB|·selectivity + |side states| + |view|`,
    * never a rescan of either base table.
    *
    * Takes the current view state (an [[aggregateOfJoin]] frame), the
    * two side states, and the two signed ROW feeds carrying each
    * side's key columns + raw measures + `opCol` (either may be
    * empty — pass a `limit(0)` frame); returns the maintained
    * `(view, aState, bState)` triple. Feeds are folded to signed
    * partials first ([[signedPartialOf]] — ±1 refused loudly), the
    * side states are maintained FIRST (phantom deletes caught by the
    * side state's negative-count probe before the view is touched),
    * and the view merge refuses negative counts and vanishes
    * zero-count groups. */
  def maintainJoinAgg(view: DataFrame, aState: DataFrame,
                      bState: DataFrame, aChanges: DataFrame,
                      bChanges: DataFrame, joinKeys: Seq[String],
                      groupKeys: Seq[String], sumCols: Seq[String],
                      opCol: String = "op",
                      where: Option[String] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    val (aKeys, aSums) = partialShapeOf(aState)
    val (bKeys, bSums) = partialShapeOf(bState)
    // folding each feed to a signed partial validates the ±1 contract
    // in the same pass and pins the result for its two consumers; the
    // two feeds are independent, so their pin jobs overlap (opt r18)
    val (aD, bD) = Checkpoints.inParallel(
      signedPartialOf(aChanges, aKeys, aSums, opCol),
      signedPartialOf(bChanges, bKeys, bSums, opCol))
    maintainJoinAggDelta(view, aState, bState, aD, bD,
      joinKeys, groupKeys, sumCols, where)
  }

  /** [[maintainJoinAgg]] with the deltas already folded to SIGNED
    * PARTIALS (same shape as the matching side state, counts of any
    * sign) — the composition entry point: a chain level's own delta
    * ([[deltaJoinFeed]]) is a signed partial, not a ±1 row feed, and
    * feeds the next level through this verb unchanged. */
  def maintainJoinAggDelta(view: DataFrame, aState: DataFrame,
                           bState: DataFrame, aDelta: DataFrame,
                           bDelta: DataFrame, joinKeys: Seq[String],
                           groupKeys: Seq[String], sumCols: Seq[String],
                           where: Option[String] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    requireJoinShapes(aState, bState, joinKeys, groupKeys, sumCols, where)
    // EXACT view shape, like maintainAgg's: maintaining with a subset
    // of the view's sum columns would silently drop the others, and a
    // group key the view lacks must fail HERE by name, not as an
    // unresolved-column error deep inside the merge
    for (k <- groupKeys) require(view.columns.contains(k),
      s"group key $k is not a column of the view " +
        s"(has ${view.columns.mkString(", ")})")
    require(view.columns.toSet.diff(groupKeys.toSet) ==
        (Seq("cnt") ++ sumCols.map(c => s"sum_$c")).toSet,
      s"view is not an aggregateOfJoin(groupKeys=$groupKeys, " +
        s"sums=$sumCols) frame; has ${view.columns.mkString(", ")}")
    val (aKeys, aSums) = partialShapeOf(aState)
    val (bKeys, bSums) = partialShapeOf(bState)
    for ((d, st, side) <- Seq((aDelta, (aKeys, aSums), "a"),
        (bDelta, (bKeys, bSums), "b"))) {
      val (dKeys, dSums) = partialShapeOf(d)
      require(dKeys.toSet == st._1.toSet && dSums.toSet == st._2.toSet,
        s"$side-side delta shape (keys=${dKeys.mkString(",")}; " +
          s"sums=${dSums.mkString(",")}) does not match its state " +
          s"(keys=${st._1.mkString(",")}; sums=${st._2.mkString(",")})")
    }
    // each delta is read TWICE (its side's maintenance + its delta
    // term) — pin once so a delta carrying feed lineage does not
    // recompute per consumer; deltas are churn-sized by contract. A
    // delta that IS already a checkpoint (signedPartialOf's output,
    // maintainJoinAgg's path) is not re-materialized — that would be
    // a whole wasted copy pass per side per refresh
    def pinnedOnce(df: DataFrame): DataFrame =
      df.queryExecution.logical match {
        case _: org.apache.spark.sql.execution.LogicalRDD => df
        case _ => df.localCheckpoint(true)
      }
    val (aD, bD) =
      Checkpoints.inParallel(pinnedOnce(aDelta), pinnedOnce(bDelta))
    // side states first: their maintenance catches phantom deletes
    // (negative side counts) before the view merge runs. The two
    // sides' merges are independent of each other, so their pin+probe
    // jobs overlap (opt r18) — both still complete before the view
    // merge below starts, which is the ordering the contract needs
    requireMergeCompatible(aState, aD, aSums, "a-side delta")
    requireMergeCompatible(bState, bD, bSums, "b-side delta")
    val (aNew, bNew) = Checkpoints.inParallel(
      mergeStates(aState, aD, aKeys, aSums),
      mergeStates(bState, bD, bKeys, bSums))
    // one delta-join term per side, pre-aggregated straight to the
    // view's group keys, so the merge below is state-sized. The
    // view's WHERE filters each term over the SAME joined key tuple
    // it filtered at bootstrap — the side states stay UNFILTERED (a
    // row outside the predicate may join into it later) while the
    // view only ever sees σ rows
    val delta = joinPartials(aD, bState, joinKeys, groupKeys, sumCols, where)
      .unionByName(
        joinPartials(bD, aNew, joinKeys, groupKeys, sumCols, where))
    requireMergeCompatible(view, delta, sumCols, "join delta")
    val merged = mergeStates(view, delta, groupKeys, sumCols)
    // only pins THIS call created are released; a caller-pinned delta
    // (already a LogicalRDD) stays the caller's to manage
    if (!(aD eq aDelta)) Checkpoints.unpersist(aD)
    if (!(bD eq bDelta)) Checkpoints.unpersist(bD)
    (merged, aNew, bNew)
  }

  // ──────────────────── self-refreshing materialized views ────────────────────
  //
  // The capstone the pieces exist for: a PERSISTED aggregate view over
  // a generation-tracked [[Layout]] directory that refreshes itself by
  // diffing generations ([[Layout.changesBetween]]) and maintaining
  // ([[maintainAgg]]) — never recomputing from the base. The view dir
  // holds a JSON meta sidecar (base dir, group keys, sum columns) and
  // exactly one state parquet dir named by the BASE GENERATION it
  // reflects (`state_gen=G`); refresh commits by writing the new state
  // to a temp dir, renaming it to `state_gen=cur`, then dropping the
  // old — a crash between rename and drop leaves two states, and the
  // next refresh takes the max and lazily cleans the rest, so every
  // crash window re-converges instead of double-applying a feed.

  /** One refresh's outcome: the generation span applied and whether
    * any maintenance ran (`refreshed = false` = already current). */
  case class ViewRefreshStats(fromGen: Long, toGen: Long, refreshed: Boolean)

  private def viewMetaPath(viewDir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$viewDir/_graft_view.json")

  /** Publish a view's meta sidecar via the tmp + rename discipline
    * every other sidecar in the repo uses: a crash mid-write leaves a
    * `_`-prefixed temp file (invisible, overwritten by the next
    * attempt), never a torn JSON — so a crashed create really does
    * leave "no view", as the meta-last rule promises. */
  private def writeViewMeta(fs: org.apache.hadoop.fs.FileSystem,
                            viewDir: String, json: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(s"$viewDir/_graft_view.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    require(fs.rename(tmp, viewMetaPath(viewDir)),
      s"failed to publish the view meta at ${viewMetaPath(viewDir)}")
  }

  private def viewStatePath(viewDir: String,
                            gen: Long): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$viewDir/state_gen=$gen")

  private def viewFs(spark: org.apache.spark.sql.SparkSession,
                     viewDir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(viewDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The state generations present on disk — normally one; two is a
    * refresh's rename-then-drop crash window (max wins). */
  private def viewStateGens(fs: org.apache.hadoop.fs.FileSystem,
                            viewDir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(viewDir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("state_gen="))
      .map(_.stripPrefix("state_gen=").toLong)
  }

  private def parseViewMeta(spark: org.apache.spark.sql.SparkSession,
                            viewDir: String): org.json4s.JValue = {
    val fs = viewFs(spark, viewDir)
    val p = viewMetaPath(viewDir)
    require(fs.exists(p),
      s"$viewDir holds no materialized view (missing ${p.getName}) — " +
        "createView first")
    val in = fs.open(p)
    val json = try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
      out.toString("UTF-8")
    } finally in.close()
    org.json4s.jackson.JsonMethods.parse(json)
  }

  private def metaStr(j: org.json4s.JValue, p: String,
                      what: String): String = j match {
    case org.json4s.JString(s) => s
    case other => throw new IllegalArgumentException(
      s"malformed view meta at $p: $what is $other")
  }

  private def metaStrs(j: org.json4s.JValue, p: String,
                       what: String): Seq[String] = j match {
    case org.json4s.JArray(xs) => xs.map(metaStr(_, p, what))
    case other => throw new IllegalArgumentException(
      s"malformed view meta at $p: $what is $other")
  }

  private def readViewMeta(spark: org.apache.spark.sql.SparkSession,
                           viewDir: String)
      : (String, Seq[String], Seq[String], Option[String]) = {
    import org.json4s._
    val jv = parseViewMeta(spark, viewDir)
    val p = viewMetaPath(viewDir).toString
    jv \ "kind" match {
      case JString("join") => throw new IllegalArgumentException(
        s"$viewDir holds a JOIN view — use refreshJoinView / " +
          "readJoinView / rebuildJoinView")
      case JString("chain") => throw new IllegalArgumentException(
        s"$viewDir holds a CHAIN view — use refreshChainView / " +
          "readChainView / rebuildChainView")
      case _ =>
    }
    val where = jv \ "where" match {
      case JNothing | JNull => None
      case w => Some(metaStr(w, p, "where"))
    }
    (metaStr(jv \ "base", p, "base"), metaStrs(jv \ "keys", p, "keys"),
      metaStrs(jv \ "sums", p, "sums"), where)
  }

  /** Commit a state frame as the view's `state_gen=[gen]` via the
    * temp + rename discipline: the write materializes into a
    * `_`-prefixed temp dir (invisible if orphaned, overwritten by the
    * next attempt), then one rename publishes it. */
  private def commitViewState(spark: org.apache.spark.sql.SparkSession,
                              viewDir: String, gen: Long,
                              state: DataFrame): Unit = {
    val fs = viewFs(spark, viewDir)
    val tmp = new org.apache.hadoop.fs.Path(s"$viewDir/_state_tmp")
    state.write.mode("overwrite").parquet(tmp.toString)
    val dest = viewStatePath(viewDir, gen)
    require(!fs.exists(dest),
      s"view state $dest already exists — concurrent refreshers?")
    require(fs.rename(tmp, dest),
      s"failed to publish the view state at $dest")
  }

  /** CREATE MATERIALIZED VIEW: bootstrap an [[aggregateOf]] state over
    * the base layout's CURRENT generation (pinned by number, so a
    * concurrent commit mid-bootstrap cannot tear the read) and persist
    * it under `viewDir` with a meta sidecar naming the base and the
    * aggregate shape. The base must be generation-tracked
    * ([[Layout.enableGenerations]]) — that is what [[refreshView]]
    * diffs against. `viewDir` must not already hold a view; stranded
    * state dirs from a crashed create (no meta sidecar yet = the view
    * never existed) are cleaned and rebuilt, not inherited. */
  def createView(spark: org.apache.spark.sql.SparkSession,
                 baseDir: String, viewDir: String, keys: Seq[String],
                 sumCols: Seq[String],
                 where: Option[String] = None): ViewRefreshStats = {
    require(keys.nonEmpty, "createView needs at least one group key")
    val fs = viewFs(spark, viewDir)
    require(!fs.exists(viewMetaPath(viewDir)),
      s"$viewDir already holds a materialized view — refreshView to " +
        "advance it, or remove the directory to re-create")
    for (g <- viewStateGens(fs, viewDir))
      require(fs.delete(viewStatePath(viewDir, g), true),
        s"failed to clean stranded pre-meta state state_gen=$g")
    val gen = Layout.currentGeneration(spark, baseDir)
    // readSnapshot both pins the bootstrap read AND loudly refuses an
    // untracked base — a view over an untracked dir could never refresh.
    // A WHERE predicate (filtered MV, the `... FROM t WHERE status='F'`
    // shape) applies to the bootstrap here and to every refresh feed:
    // a row's membership is a function of the row alone, so filtering
    // the signed feed maintains exactly the filtered aggregate
    val base0 = Layout.readSnapshot(spark, baseDir, gen)
    val state = aggregateOf(
      where.fold(base0)(w => base0.filter(expr(w)))
        .select((keys ++ sumCols).map(col): _*),
      keys, sumCols)
    commitViewState(spark, viewDir, gen, state)
    // meta last: its presence is what marks the view as existing, so
    // every earlier crash leaves "no view" rather than a half-view
    import org.json4s.JsonDSL._
    writeViewMeta(fs, viewDir, org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        ("base" -> baseDir) ~ ("keys" -> keys) ~ ("sums" -> sumCols) ~
          ("where" -> where))))
    // register the view's generation pin so the base's vacuum refuses
    // to cut the history this view still needs (Layout.snapshotPins)
    Layout.registerSnapshotPin(spark, baseDir, viewDir, gen)
    ViewRefreshStats(gen, gen, refreshed = true)
  }

  /** The base generation the view's persisted state reflects. */
  def viewGeneration(spark: org.apache.spark.sql.SparkSession,
                     viewDir: String): Long = {
    readViewMeta(spark, viewDir)
    val gens = viewStateGens(viewFs(spark, viewDir), viewDir)
    require(gens.nonEmpty,
      s"$viewDir has a meta sidecar but no state dir — rebuildView")
    gens.max
  }

  /** Read the materialized view's current state (`keys`, `cnt`,
    * `sum_<c>`) — a state-sized parquet read, never touching the
    * base. */
  def readView(spark: org.apache.spark.sql.SparkSession,
               viewDir: String): DataFrame =
    spark.read.parquet(
      viewStatePath(viewDir, viewGeneration(spark, viewDir)).toString)

  /** REFRESH MATERIALIZED VIEW, incrementally: diff the base's
    * generation store from the view's pinned generation to the live
    * one ([[Layout.changesBetween]] — file-level, churn-priced),
    * maintain the persisted state ([[maintainAgg]]), and commit the
    * result as the new pinned state. Idempotent when already current
    * (`refreshed = false`, no job runs). A base vacuumed PAST the
    * view's generation fails loudly in changesBetween (the archived
    * manifest is gone) — recovery is [[rebuildView]]; retain enough
    * generations to cover the refresh cadence. A view state AHEAD of
    * the base's live generation means the base was rebuilt out from
    * under the view and is refused by name. */
  def refreshView(spark: org.apache.spark.sql.SparkSession,
                  viewDir: String): ViewRefreshStats = {
    val (base, keys, sums, where) = readViewMeta(spark, viewDir)
    val fs = viewFs(spark, viewDir)
    val gens = viewStateGens(fs, viewDir)
    require(gens.nonEmpty,
      s"$viewDir has a meta sidecar but no state dir — rebuildView")
    val pinned = gens.max
    // lazily heal the rename-then-drop crash window: older states are
    // superseded by construction (max wins), never re-applied
    for (g <- gens if g < pinned)
      require(fs.delete(viewStatePath(viewDir, g), true),
        s"failed to drop superseded view state state_gen=$g")
    val cur = Layout.currentGeneration(spark, base)
    if (cur == pinned) return ViewRefreshStats(pinned, pinned, refreshed = false)
    require(cur > pinned,
      s"view state at generation $pinned is AHEAD of the base's live " +
        s"$cur — $base was rebuilt or replaced out from under the " +
        "view; rebuildView against the new base history")
    val state = spark.read.parquet(viewStatePath(viewDir, pinned).toString)
    val feed0 = Layout.changesBetween(spark, base, pinned, cur)
    // a filtered view filters its FEED by the same predicate: row
    // membership is a function of the row alone, so the signed feed's
    // filtered subset maintains exactly the filtered aggregate
    val feed = where.fold(feed0)(w => feed0.filter(expr(w)))
    val next = maintainAgg(state,
      feed.select((keys ++ sums :+ "op").map(col): _*), keys, sums)
    commitViewState(spark, viewDir, cur, next)
    require(fs.delete(viewStatePath(viewDir, pinned), true),
      s"failed to drop the superseded view state state_gen=$pinned")
    Layout.registerSnapshotPin(spark, base, viewDir, cur)
    ViewRefreshStats(pinned, cur, refreshed = true)
  }

  /** Full recompute fallback for the documented refresh boundary
    * (base vacuumed past the view's generation, or a base rebuilt
    * under the view): re-bootstrap at the live generation and replace
    * the state, keeping the meta sidecar. */
  def rebuildView(spark: org.apache.spark.sql.SparkSession,
                  viewDir: String): ViewRefreshStats = {
    val (base, keys, sums, where) = readViewMeta(spark, viewDir)
    val fs = viewFs(spark, viewDir)
    val cur = Layout.currentGeneration(spark, base)
    val base0 = Layout.readSnapshot(spark, base, cur)
    val state = aggregateOf(
      where.fold(base0)(w => base0.filter(expr(w)))
        .select((keys ++ sums).map(col): _*),
      keys, sums)
    val old = viewStateGens(fs, viewDir)
    // any old state whose label would OUT-RANK the rebuilt one under
    // the readers' max rule (a collision, or a base rebuilt at a
    // LOWER generation) must clear BEFORE the publish — a crash
    // between publish and cleanup would otherwise leave the stale
    // state winning reads and the next refresh discarding the fresh
    // one as "superseded". The only crash window without a live
    // state is mid-pre-clear, whose recovery is this same verb.
    for (g <- old if g >= cur)
      require(fs.delete(viewStatePath(viewDir, g), true),
        s"failed to drop view state state_gen=$g before rebuild")
    commitViewState(spark, viewDir, cur, state)
    for (g <- old if g < cur)
      require(fs.delete(viewStatePath(viewDir, g), true),
        s"failed to drop superseded view state state_gen=$g")
    Layout.registerSnapshotPin(spark, base, viewDir, cur)
    ViewRefreshStats(old.maxOption.getOrElse(cur), cur, refreshed = true)
  }

  /** The signed delta OF A JOIN ITSELF — what turns two-table
    * maintenance into N-WAY maintenance by COMPOSITION: `Δ(A ⋈ B) =
    * ΔA ⋈ B_old ∪ A_new ⋈ ΔB`, emitted as a SIGNED PARTIAL over
    * `outKeys`/`outSums` that every downstream consumer treats
    * exactly like a base-table delta. A chain `(A ⋈ B) ⋈ C`
    * maintains by keeping a partial state for the INTERMEDIATE join:
    * merge this delta into that state, and pass the SAME delta as
    * the left side's delta of the outer level
    * ([[maintainJoinAggDelta]]) — each additional table adds one
    * churn-priced delta-join, never a recompute of the prefix.
    *
    * All inputs are partials: `aDelta`/`bDelta` signed
    * ([[signedPartialOf]] of a row feed, or a lower level's own
    * deltaJoinFeed), the states unsigned. `aStateNew` must be the
    * POST-delta state of A: the `A_new ⋈ ΔB` term is what absorbs the
    * `ΔA ⋈ ΔB` cross term, so passing the pre-delta state mis-counts
    * it. The weights read the partials directly (no row expansion):
    * cnt products and `sum × cnt` cross terms, re-aggregated to
    * `outKeys` — churn-priced because the delta side IS the churn. */
  def deltaJoinFeed(aStateNew: DataFrame, bStateOld: DataFrame,
                    aDelta: DataFrame, bDelta: DataFrame,
                    joinKeys: Seq[String], outKeys: Seq[String],
                    outSums: Seq[String]): DataFrame = {
    require(joinKeys.nonEmpty, "deltaJoinFeed needs a join key")
    require(outKeys.nonEmpty, "deltaJoinFeed needs output keys")
    // loud shape guards, like the rest of the family — a mixed-up
    // argument must fail by name, not as an ambiguous-reference
    // AnalysisException deep inside the join
    val (aKeys, aSums) = partialShapeOf(aStateNew)
    val (bKeys, bSums) = partialShapeOf(bStateOld)
    for ((d, st, side) <- Seq((aDelta, (aKeys, aSums), "a"),
        (bDelta, (bKeys, bSums), "b"))) {
      val (dKeys, dSums) = partialShapeOf(d)
      require(dKeys.toSet == st._1.toSet && dSums.toSet == st._2.toSet,
        s"$side-side delta shape (keys=${dKeys.mkString(",")}; " +
          s"sums=${dSums.mkString(",")}) does not match its state " +
          s"(keys=${st._1.mkString(",")}; sums=${st._2.mkString(",")})")
    }
    for (k <- joinKeys) require(aKeys.contains(k) && bKeys.contains(k),
      s"join key $k must be a column of BOTH side states")
    val shared = ((aKeys ++ aSums).toSet intersect
      (bKeys ++ bSums).toSet) -- joinKeys
    require(shared.isEmpty,
      s"side states share non-join columns ${shared.mkString(", ")} — " +
        "rename one side so every joined-tuple column is unambiguous")
    for (k <- outKeys) require(aKeys.contains(k) || bKeys.contains(k),
      s"output key $k is a key column of neither side")
    for (c <- outSums) require(aSums.contains(c) || bSums.contains(c),
      s"output sum $c is pre-aggregated on neither side")
    joinPartials(aDelta, bStateOld, joinKeys, outKeys, outSums, None)
      .unionByName(
        joinPartials(bDelta, aStateNew, joinKeys, outKeys, outSums, None))
  }

  // ───────────── persisted self-refreshing JOIN views ─────────────
  //
  // The same persistence discipline over [[maintainJoinAgg]]: a view
  // over A ⋈ B pins a generation PAIR, and its state is the TRIO the
  // delta-join needs — the view aggregate plus both side multisets
  // (compressed projections of the bases, never the bases). A refresh
  // diffs EACH base's generation store from its pinned generation
  // ([[Layout.changesBetween]], churn-priced; an unmoved side yields
  // an empty feed) and maintains all three in one pass. Commit
  // interleavings across the two bases cannot skew the result: the
  // view is a function of the two current multisets alone, and the
  // delta-join is exact for the pair transition whatever the true
  // temporal order of the underlying commits was.

  /** One join-view refresh's outcome: the generation span applied on
    * each base, and whether any maintenance ran. */
  case class JoinViewRefreshStats(fromAGen: Long, toAGen: Long,
                                  fromBGen: Long, toBGen: Long,
                                  refreshed: Boolean)

  private val JoinStateRe = """state_agen=(\d+)_bgen=(\d+)""".r

  private def joinStatePath(viewDir: String, gA: Long,
                            gB: Long): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$viewDir/state_agen=${gA}_bgen=$gB")

  /** State pairs on disk — normally one; two is the refresh's
    * rename-then-drop crash window. Refreshes advance at least one
    * component and never regress either, so any two states are
    * componentwise comparable and the lexicographic max IS the
    * componentwise max. */
  private def joinStateGens(fs: org.apache.hadoop.fs.FileSystem,
                            viewDir: String): Seq[(Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(viewDir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName).collect {
      case JoinStateRe(a, b) => (a.toLong, b.toLong)
    }
  }

  private case class JoinViewMeta(aBase: String, bBase: String,
                                  joinKeys: Seq[String],
                                  groupKeys: Seq[String],
                                  sums: Seq[String],
                                  aKeys: Seq[String], aSums: Seq[String],
                                  bKeys: Seq[String], bSums: Seq[String],
                                  where: Option[String])

  private def readJoinViewMeta(spark: org.apache.spark.sql.SparkSession,
                               viewDir: String): JoinViewMeta = {
    import org.json4s._
    val jv = parseViewMeta(spark, viewDir)
    val p = viewMetaPath(viewDir).toString
    jv \ "kind" match {
      case JString("join") =>
      case JString("chain") => throw new IllegalArgumentException(
        s"$viewDir holds a CHAIN view — use refreshChainView / " +
          "readChainView / rebuildChainView")
      case _ => throw new IllegalArgumentException(
        s"$viewDir holds a single-base view — use refreshView / " +
          "readView / rebuildView")
    }
    JoinViewMeta(metaStr(jv \ "abase", p, "abase"),
      metaStr(jv \ "bbase", p, "bbase"),
      metaStrs(jv \ "joinKeys", p, "joinKeys"),
      metaStrs(jv \ "groupKeys", p, "groupKeys"),
      metaStrs(jv \ "sums", p, "sums"),
      metaStrs(jv \ "akeys", p, "akeys"),
      metaStrs(jv \ "asums", p, "asums"),
      metaStrs(jv \ "bkeys", p, "bkeys"),
      metaStrs(jv \ "bsums", p, "bsums"),
      jv \ "where" match {
        case JNothing | JNull => None
        case w => Some(metaStr(w, p, "where"))
      })
  }

  /** Column names a WHERE predicate references — the side states must
    * carry them even when they are neither group nor sum columns (a
    * row OUTSIDE the predicate may join into it after the other side
    * changes, so membership is decided per delta term, never by
    * pre-filtering a side). Parsed from the unresolved expression. */
  private def whereColsOf(where: Option[String]): Seq[String] =
    where.toSeq.flatMap(w =>
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(w).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.last
        }).distinct

  /** Publish a (view, aState, bState) trio as `state_agen=_bgen=` via
    * the same temp + rename discipline as [[commitViewState]]: all
    * three land in the `_`-prefixed temp dir, ONE rename makes the
    * pair live. */
  private def commitJoinState(spark: org.apache.spark.sql.SparkSession,
                              viewDir: String, gA: Long, gB: Long,
                              view: DataFrame, aState: DataFrame,
                              bState: DataFrame): Unit = {
    val fs = viewFs(spark, viewDir)
    val tmp = new org.apache.hadoop.fs.Path(s"$viewDir/_state_tmp")
    require(fs.delete(tmp, true) || !fs.exists(tmp),
      s"failed to clear the state staging dir at $tmp")
    view.write.parquet(s"$tmp/view")
    aState.write.parquet(s"$tmp/a")
    bState.write.parquet(s"$tmp/b")
    val dest = joinStatePath(viewDir, gA, gB)
    require(!fs.exists(dest),
      s"join view state $dest already exists — concurrent refreshers?")
    require(fs.rename(tmp, dest),
      s"failed to publish the join view state at $dest")
  }

  /** CREATE MATERIALIZED VIEW over `A ⋈ B`: bootstrap the side
    * multisets and the [[aggregateOfJoin]] view at both bases'
    * CURRENT generations (pinned by number) and persist the trio
    * under `viewDir` with a meta sidecar naming both bases and the
    * join/aggregate shape. Both bases must be generation-tracked.
    * Every non-join view column must live on exactly ONE base — the
    * same unambiguity [[maintainJoinAgg]] enforces on the states,
    * checked here against the base schemas so the error names the
    * column before anything persists. */
  def createJoinView(spark: org.apache.spark.sql.SparkSession,
                     aDir: String, bDir: String, viewDir: String,
                     joinKeys: Seq[String], groupKeys: Seq[String],
                     sumCols: Seq[String],
                     where: Option[String] = None): JoinViewRefreshStats = {
    require(joinKeys.nonEmpty, "createJoinView needs a join key")
    require(groupKeys.nonEmpty, "createJoinView needs a group key")
    val fs = viewFs(spark, viewDir)
    require(!fs.exists(viewMetaPath(viewDir)),
      s"$viewDir already holds a materialized view — refreshJoinView " +
        "to advance it, or remove the directory to re-create")
    for ((ga, gb) <- joinStateGens(fs, viewDir))
      require(fs.delete(joinStatePath(viewDir, ga, gb), true),
        s"failed to clean stranded pre-meta state ($ga, $gb)")
    val gA = Layout.currentGeneration(spark, aDir)
    val gB = Layout.currentGeneration(spark, bDir)
    val aAll = Layout.readSnapshot(spark, aDir, gA)
    val bAll = Layout.readSnapshot(spark, bDir, gB)
    for (k <- joinKeys)
      require(aAll.columns.contains(k) && bAll.columns.contains(k),
        s"join key $k must be a column of BOTH bases")
    // predicate columns ride along in the side-state KEYS: membership
    // is decided per joined tuple at every delta term, so the states
    // stay UNFILTERED and must carry what the predicate reads. Sum
    // columns do NOT ride as keys — they pre-aggregate into sum_<c>
    // partials on the side that owns them, which is what keeps a
    // measure-bearing side state group-sized instead of fact-sized
    val restKeys = (groupKeys ++ whereColsOf(where)).distinct
      .filterNot(joinKeys.contains)
    for (c <- restKeys ++ sumCols.filterNot(
        c => joinKeys.contains(c) || restKeys.contains(c))) {
      val (onA, onB) = (aAll.columns.contains(c), bAll.columns.contains(c))
      require(onA || onB, s"view column $c is on neither base")
      require(!(onA && onB),
        s"view column $c is on BOTH bases — project/rename one side " +
          "so every view column is unambiguous")
    }
    val aKeys = joinKeys ++ restKeys.filter(aAll.columns.contains)
    val bKeys = joinKeys ++ restKeys.filter(bAll.columns.contains)
    val aSums = sumCols.filter(aAll.columns.contains)
    val bSums = sumCols.filterNot(aSums.contains)
    // pin the side partials: the view bootstrap AND all three state
    // writes read them — unpinned, each consumer re-scans its base
    val a0 = aggregateOf(aAll.select((aKeys ++ aSums).distinct.map(col): _*),
      aKeys, aSums).localCheckpoint(true)
    val b0 = aggregateOf(bAll.select((bKeys ++ bSums).distinct.map(col): _*),
      bKeys, bSums).localCheckpoint(true)
    val v0 = aggregateOfJoin(a0, b0, joinKeys, groupKeys, sumCols, where)
    commitJoinState(spark, viewDir, gA, gB, v0, a0, b0)
    Checkpoints.unpersist(a0)
    Checkpoints.unpersist(b0)
    // meta last, same rule as createView: its presence marks existence
    import org.json4s.JsonDSL._
    writeViewMeta(fs, viewDir, org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        ("kind" -> "join") ~ ("abase" -> aDir) ~ ("bbase" -> bDir) ~
          ("joinKeys" -> joinKeys) ~ ("groupKeys" -> groupKeys) ~
          ("sums" -> sumCols) ~ ("akeys" -> aKeys) ~ ("asums" -> aSums) ~
          ("bkeys" -> bKeys) ~ ("bsums" -> bSums) ~ ("where" -> where))))
    Layout.registerSnapshotPin(spark, aDir, viewDir, gA)
    Layout.registerSnapshotPin(spark, bDir, viewDir, gB)
    JoinViewRefreshStats(gA, gA, gB, gB, refreshed = true)
  }

  /** The (aBase, bBase) generation pair the persisted state
    * reflects. */
  def joinViewGenerations(spark: org.apache.spark.sql.SparkSession,
                          viewDir: String): (Long, Long) = {
    readJoinViewMeta(spark, viewDir)
    val gens = joinStateGens(viewFs(spark, viewDir), viewDir)
    require(gens.nonEmpty,
      s"$viewDir has a meta sidecar but no state dir — rebuildJoinView")
    gens.max
  }

  /** Read the join view's current aggregate (`groupKeys`, `cnt`,
    * `sum_<c>`) — state-sized, never touching either base. */
  def readJoinView(spark: org.apache.spark.sql.SparkSession,
                   viewDir: String): DataFrame = {
    val (gA, gB) = joinViewGenerations(spark, viewDir)
    spark.read.parquet(s"${joinStatePath(viewDir, gA, gB)}/view")
  }

  /** REFRESH the join view incrementally: one churn-priced
    * [[Layout.changesBetween]] feed per base that moved (an unmoved
    * side contributes an empty feed and costs one manifest read),
    * one [[maintainJoinAgg]] pass over the persisted trio, one
    * commit. Idempotent when both bases are current. A base vacuumed
    * past its pinned generation fails loudly in changesBetween —
    * recovery is [[rebuildJoinView]]; a base BEHIND its pin was
    * rebuilt out from under the view and is refused by name. */
  def refreshJoinView(spark: org.apache.spark.sql.SparkSession,
                      viewDir: String): JoinViewRefreshStats = {
    val meta = readJoinViewMeta(spark, viewDir)
    val fs = viewFs(spark, viewDir)
    val states = joinStateGens(fs, viewDir)
    require(states.nonEmpty,
      s"$viewDir has a meta sidecar but no state dir — rebuildJoinView")
    val (pA, pB) = states.max
    for ((ga, gb) <- states if (ga, gb) != ((pA, pB)))
      require(fs.delete(joinStatePath(viewDir, ga, gb), true),
        s"failed to drop superseded join view state ($ga, $gb)")
    val curA = Layout.currentGeneration(spark, meta.aBase)
    val curB = Layout.currentGeneration(spark, meta.bBase)
    if (curA == pA && curB == pB)
      return JoinViewRefreshStats(pA, pA, pB, pB, refreshed = false)
    require(curA >= pA && curB >= pB,
      s"join view state pins ($pA, $pB) but the bases are at " +
        s"($curA, $curB) — a base was rebuilt or replaced out from " +
        "under the view; rebuildJoinView against the new history")
    val sp = joinStatePath(viewDir, pA, pB)
    val view = spark.read.parquet(s"$sp/view")
    val aState = spark.read.parquet(s"$sp/a")
    val bState = spark.read.parquet(s"$sp/b")
    val aFeed = Layout.changesBetween(spark, meta.aBase, pA, curA)
      .select(((meta.aKeys ++ meta.aSums).distinct :+ "op").map(col): _*)
    val bFeed = Layout.changesBetween(spark, meta.bBase, pB, curB)
      .select(((meta.bKeys ++ meta.bSums).distinct :+ "op").map(col): _*)
    val (v, a, b) = maintainJoinAgg(view, aState, bState, aFeed, bFeed,
      meta.joinKeys, meta.groupKeys, meta.sums, where = meta.where)
    commitJoinState(spark, viewDir, curA, curB, v, a, b)
    require(fs.delete(sp, true),
      s"failed to drop the superseded join view state ($pA, $pB)")
    Layout.registerSnapshotPin(spark, meta.aBase, viewDir, curA)
    Layout.registerSnapshotPin(spark, meta.bBase, viewDir, curB)
    JoinViewRefreshStats(pA, curA, pB, curB, refreshed = true)
  }

  // ─────────── persisted CHAIN views (N-way join MVs) ───────────
  //
  // The [[deltaJoinFeed]] composition, persisted: a materialized
  // aggregate over a LEFT-DEEP join chain T0 ⋈ T1 ⋈ … ⋈ T(k-1) of
  // generation-tracked bases, pinned to a generation VECTOR. The
  // state is everything the per-level delta-joins need — one multiset
  // per base, one per INTERMEDIATE prefix join (I1 … I(k-2)), and the
  // view — committed atomically under one `state_gens=` rename. A
  // refresh derives one churn-priced feed per base that moved, folds
  // [[deltaJoinFeed]] up the chain (each level joins deltas against
  // state multisets, never the bases), and finishes with one
  // [[maintainJoinAgg]] pass. k = 2 degenerates to [[createJoinView]];
  // this family exists for the fact ⋈ dim ⋈ dim shapes real
  // reporting views take.

  /** One chain-view refresh: the pinned and live generation vectors
    * (one entry per base, in chain order). */
  case class ChainViewRefreshStats(fromGens: Seq[Long], toGens: Seq[Long],
                                   refreshed: Boolean)

  private val ChainStateRe = """state_gens=([0-9-]+)""".r

  private def chainStatePath(viewDir: String,
                             gens: Seq[Long]): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      s"$viewDir/state_gens=${gens.mkString("-")}")

  private def chainStateGens(fs: org.apache.hadoop.fs.FileSystem,
                             viewDir: String): Seq[Seq[Long]] = {
    val p = new org.apache.hadoop.fs.Path(viewDir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName).collect {
      case ChainStateRe(v) => v.split('-').toSeq.map(_.toLong)
    }
  }

  /** Reader ordering over generation vectors: element-wise sums never
    * regress across refreshes, so the vector with the largest SUM is
    * the newest (ties cannot arise: every commit advances the sum). */
  private def chainMax(states: Seq[Seq[Long]]): Seq[Long] =
    states.maxBy(_.sum)

  private case class ChainViewMeta(bases: Seq[String],
                                   levelKeys: Seq[Seq[String]],
                                   groupKeys: Seq[String],
                                   sums: Seq[String],
                                   baseKeys: Seq[Seq[String]],
                                   baseSums: Seq[Seq[String]],
                                   where: Option[String])

  private def readChainViewMeta(spark: org.apache.spark.sql.SparkSession,
                                viewDir: String): ChainViewMeta = {
    import org.json4s._
    val jv = parseViewMeta(spark, viewDir)
    val p = viewMetaPath(viewDir).toString
    jv \ "kind" match {
      case JString("chain") =>
      case _ => throw new IllegalArgumentException(
        s"$viewDir does not hold a chain view — use the matching " +
          "create/refresh/read family for its kind")
    }
    def strss(j: JValue, what: String): Seq[Seq[String]] = j match {
      case JArray(xs) => xs.map(metaStrs(_, p, what))
      case other => throw new IllegalArgumentException(
        s"malformed view meta at $p: $what is $other")
    }
    ChainViewMeta(metaStrs(jv \ "bases", p, "bases"),
      strss(jv \ "levelKeys", "levelKeys"),
      metaStrs(jv \ "groupKeys", p, "groupKeys"),
      metaStrs(jv \ "sums", p, "sums"),
      strss(jv \ "baseKeys", "baseKeys"),
      strss(jv \ "baseSums", "baseSums"),
      jv \ "where" match {
        case JNothing | JNull => None
        case w => Some(metaStr(w, p, "where"))
      })
  }

  /** The INTERMEDIATE prefix states' shapes, derived (never stored —
    * one derivation shared by create, refresh, and rebuild so they
    * cannot fork): I_j compresses bases 0..j to the key columns still
    * needed ABOVE level j (later join keys, group keys, predicate
    * columns — everything else is projected away) with `sum_<c>`
    * partials for the measures those bases own. Entry j-1 of the
    * result describes I_j, for j = 1..k-2. */
  private def interShapesOf(levelKeys: Seq[Seq[String]],
                            groupKeys: Seq[String], sums: Seq[String],
                            baseKeys: Seq[Seq[String]],
                            baseSums: Seq[Seq[String]],
                            where: Option[String])
      : Seq[(Seq[String], Seq[String])] = {
    val k = baseKeys.length
    (1 to k - 2).map { j =>
      val ownKeys = baseKeys.take(j + 1).flatten.distinct
      val neededAbove = (levelKeys.drop(j).flatten ++ groupKeys ++
        whereColsOf(where)).distinct
      val ownSums = baseSums.take(j + 1).flatten
      (ownKeys.filter(neededAbove.contains), sums.filter(ownSums.contains))
    }
  }

  /** Publish a chain state (view + per-base multisets + intermediate
    * multisets) under one rename. Layout inside the dir: `view/`,
    * `base<i>/` for every base, `inter<j>/` for j = 1..k-2. */
  private def commitChainState(spark: org.apache.spark.sql.SparkSession,
                               viewDir: String, gens: Seq[Long],
                               view: DataFrame, baseStates: Seq[DataFrame],
                               interStates: Seq[DataFrame]): Unit = {
    val fs = viewFs(spark, viewDir)
    val tmp = new org.apache.hadoop.fs.Path(s"$viewDir/_state_tmp")
    require(fs.delete(tmp, true) || !fs.exists(tmp),
      s"failed to clear the state staging dir at $tmp")
    view.write.parquet(s"$tmp/view")
    baseStates.zipWithIndex.foreach { case (st, i) =>
      st.write.parquet(s"$tmp/base$i") }
    interStates.zipWithIndex.foreach { case (st, j) =>
      st.write.parquet(s"$tmp/inter${j + 1}") }
    val dest = chainStatePath(viewDir, gens)
    require(!fs.exists(dest),
      s"chain view state $dest already exists — concurrent refreshers?")
    require(fs.rename(tmp, dest),
      s"failed to publish the chain view state at $dest")
  }

  /** CREATE MATERIALIZED VIEW over a left-deep join CHAIN:
    * `bases(0) ⋈ bases(1) ⋈ …` with `levelKeys(j)` joining the prefix
    * I(j-1) to `bases(j)` (so `levelKeys` has `bases.length - 1`
    * entries), aggregated to `groupKeys`/`sumCols`. Every base must be
    * generation-tracked; every non-join view/key column must resolve
    * on exactly ONE base. Needs at least 3 bases — use
    * [[createJoinView]] for two. */
  def createChainView(spark: org.apache.spark.sql.SparkSession,
                      bases: Seq[String], viewDir: String,
                      levelKeys: Seq[Seq[String]], groupKeys: Seq[String],
                      sumCols: Seq[String],
                      where: Option[String] = None): ChainViewRefreshStats = {
    require(bases.length >= 3,
      "createChainView needs at least 3 bases — createJoinView covers 2")
    require(levelKeys.length == bases.length - 1,
      s"chain of ${bases.length} bases needs ${bases.length - 1} " +
        s"levelKeys entries, got ${levelKeys.length}")
    require(groupKeys.nonEmpty, "createChainView needs a group key")
    val fs = viewFs(spark, viewDir)
    require(!fs.exists(viewMetaPath(viewDir)),
      s"$viewDir already holds a materialized view")
    for (g <- chainStateGens(fs, viewDir))
      require(fs.delete(chainStatePath(viewDir, g), true),
        s"failed to clean stranded pre-meta state ${g.mkString("-")}")
    val gens = bases.map(Layout.currentGeneration(spark, _))
    val frames = bases.zip(gens).map { case (b, g) =>
      Layout.readSnapshot(spark, b, g) }
    // column-side assignment: every level key lives on its right base
    // AND resolves UNAMBIGUOUSLY on the earlier prefix; every other
    // view column on exactly one base.
    // predicate columns ride along (same rule as the join views):
    // the WHERE applies over the FULL joined tuple at the TOP level
    // only, so every column it reads must survive to the final join
    val restKeys = (groupKeys ++ whereColsOf(where)).distinct
      .filterNot(levelKeys.flatten.contains)
    for (c <- restKeys ++ sumCols.filterNot(c =>
        levelKeys.flatten.contains(c) || restKeys.contains(c))) {
      val owners = frames.zipWithIndex.filter(_._1.columns.contains(c))
      require(owners.nonEmpty, s"view column $c is on no base")
      require(owners.length == 1,
        s"view column $c is on bases ${owners.map(_._2).mkString(", ")}" +
          " — project/rename so every view column is unambiguous")
    }
    for ((ks, j) <- levelKeys.zipWithIndex; k <- ks) {
      require(frames(j + 1).columns.contains(k),
        s"level-${j + 1} join key $k is not a column of bases(${j + 1})")
      val owners = (0 to j).filter(i => frames(i).columns.contains(k))
      require(owners.nonEmpty,
        s"level-${j + 1} join key $k resolves on no earlier base")
      // a key on SEVERAL earlier bases is only unambiguous when an
      // earlier level already EQUATED those copies (it was a join key
      // below); otherwise the chain would silently join on whichever
      // base happened to own it first — refused by name instead, the
      // same loud rule every other shape conflict in the family gets
      require(owners.length == 1 ||
          levelKeys.take(j).flatten.contains(k),
        s"level-${j + 1} join key $k is on bases " +
          s"${owners.mkString(", ")} and no earlier level equates " +
          "them — project/rename so the key resolves on exactly one " +
          "earlier base")
    }
    // each base's KEY columns: its level keys (as the RIGHT side),
    // any later level's keys it owns (carried up the chain), and its
    // unambiguous group/predicate columns; its SUM columns
    // pre-aggregate into sum_<c> partials (group-sized, never raw)
    val baseKeys = frames.zipWithIndex.map { case (f, i) =>
      val own = restKeys.filter(f.columns.contains) ++
        levelKeys.zipWithIndex.collect {
          case (ks, j) if j + 1 == i => ks
          case (ks, j) if j + 1 != i =>
            ks.filter(k => f.columns.contains(k) &&
              !frames.take(i).exists(_.columns.contains(k)))
        }.flatten
      own.distinct
    }
    val baseSums = frames.map(f => sumCols.filter(f.columns.contains))
    val (view0, baseStates, interStates) =
      bootstrapChain(frames, levelKeys, groupKeys, sumCols, baseKeys,
        baseSums, where)
    commitChainState(spark, viewDir, gens, view0, baseStates, interStates)
    baseStates.foreach(Checkpoints.unpersist)
    interStates.foreach(Checkpoints.unpersist)
    import org.json4s.JsonDSL._
    writeViewMeta(fs, viewDir, org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        ("kind" -> "chain") ~ ("bases" -> bases) ~
          ("levelKeys" -> levelKeys) ~ ("groupKeys" -> groupKeys) ~
          ("sums" -> sumCols) ~ ("baseKeys" -> baseKeys) ~
          ("baseSums" -> baseSums) ~ ("where" -> where))))
    for ((b, g) <- bases.zip(gens))
      Layout.registerSnapshotPin(spark, b, viewDir, g)
    ChainViewRefreshStats(gens, gens, refreshed = true)
  }

  /** The shared bootstrap of create and rebuild: per-base PARTIAL
    * states, intermediate-prefix partials I1..I(k-2) (each one
    * [[joinPartials]] pass — the weights carry the multiplicities, so
    * nothing ever row-expands), and the top aggregate. */
  private def bootstrapChain(frames: Seq[DataFrame],
                             levelKeys: Seq[Seq[String]],
                             groupKeys: Seq[String], sumCols: Seq[String],
                             baseKeys: Seq[Seq[String]],
                             baseSums: Seq[Seq[String]],
                             where: Option[String])
      : (DataFrame, Seq[DataFrame], Seq[DataFrame]) = {
    require(frames.length >= 3,
      "bootstrapChain serves 3+ base chains (2 is the join-view family)")
    val baseStates = frames.indices.map { i =>
      aggregateOf(frames(i).select(
          (baseKeys(i) ++ baseSums(i)).distinct.map(col): _*),
        baseKeys(i), baseSums(i)).localCheckpoint(true)
    }
    val interShapes = interShapesOf(levelKeys, groupKeys, sumCols,
      baseKeys, baseSums, where)
    var prefix = baseStates.head
    val interStates = (1 until frames.length - 1).map { j =>
      val (iKeys, iSums) = interShapes(j - 1)
      prefix = joinPartials(prefix, baseStates(j), levelKeys(j - 1),
        iKeys, iSums, None).localCheckpoint(true)
      prefix
    }
    val view0 = aggregateOfJoin(interStates.last, baseStates.last,
      levelKeys.last, groupKeys, sumCols, where)
    (view0, baseStates, interStates)
  }

  /** The generation vector (one entry per base, chain order) the
    * persisted chain state reflects. */
  def chainViewGenerations(spark: org.apache.spark.sql.SparkSession,
                           viewDir: String): Seq[Long] = {
    readChainViewMeta(spark, viewDir)
    val gens = chainStateGens(viewFs(spark, viewDir), viewDir)
    require(gens.nonEmpty,
      s"$viewDir has a meta sidecar but no state dir — rebuildChainView")
    chainMax(gens)
  }

  /** Read the chain view's aggregate — state-sized, never touching a
    * base. */
  def readChainView(spark: org.apache.spark.sql.SparkSession,
                    viewDir: String): DataFrame =
    spark.read.parquet(s"${chainStatePath(viewDir,
      chainViewGenerations(spark, viewDir))}/view")

  /** REFRESH the chain view: one churn-priced feed per base that
    * moved, folded up the chain as [[deltaJoinFeed]]s against the
    * persisted multisets (each level = one delta-join; bases are
    * never re-joined), one [[maintainJoinAgg]] at the top, one
    * commit. */
  def refreshChainView(spark: org.apache.spark.sql.SparkSession,
                       viewDir: String): ChainViewRefreshStats = {
    val meta = readChainViewMeta(spark, viewDir)
    val fs = viewFs(spark, viewDir)
    val states = chainStateGens(fs, viewDir)
    require(states.nonEmpty,
      s"$viewDir has a meta sidecar but no state dir — rebuildChainView")
    val pinned = chainMax(states)
    for (g <- states if g != pinned)
      require(fs.delete(chainStatePath(viewDir, g), true),
        s"failed to drop superseded chain state ${g.mkString("-")}")
    val curs = meta.bases.map(Layout.currentGeneration(spark, _))
    if (curs == pinned)
      return ChainViewRefreshStats(pinned, pinned, refreshed = false)
    require(curs.zip(pinned).forall { case (c, p) => c >= p },
      s"chain state pins (${pinned.mkString(", ")}) but the bases are " +
        s"at (${curs.mkString(", ")}) — a base was rebuilt out from " +
        "under the view; rebuildChainView")
    val sp = chainStatePath(viewDir, pinned)
    val view = spark.read.parquet(s"$sp/view")
    val baseStates = meta.bases.indices
      .map(i => spark.read.parquet(s"$sp/base$i"))
    val inters = (1 until meta.bases.length - 1)
      .map(j => spark.read.parquet(s"$sp/inter$j"))
    // one signed PARTIAL per base's churn feed (±1 validated and
    // pinned inside signedPartialOf — each delta has two consumers:
    // its base state's maintenance and its level's delta-join)
    val deltas = meta.bases.indices.map { i =>
      signedPartialOf(
        Layout.changesBetween(spark, meta.bases(i), pinned(i), curs(i))
          .select(((meta.baseKeys(i) ++ meta.baseSums(i)).distinct :+
            "op").map(col): _*),
        meta.baseKeys(i), meta.baseSums(i))
    }
    // every base state below the top maintains by merging its own
    // delta (phantom deletes refused by the negative-count probe);
    // the LAST base's state is maintained inside maintainJoinAggDelta
    val newBaseStates = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (i <- 0 until meta.bases.length - 1) {
      requireMergeCompatible(baseStates(i), deltas(i), meta.baseSums(i),
        s"base-$i feed")
      newBaseStates += mergeStates(baseStates(i), deltas(i),
        meta.baseKeys(i), meta.baseSums(i))
    }
    val interShapes = interShapesOf(meta.levelKeys, meta.groupKeys,
      meta.sums, meta.baseKeys, meta.baseSums, meta.where)
    // fold the delta up the chain: D0 = δ(base0); each level j emits
    // D_j = Δ(I_j) = D_{j-1} ⋈ base_j_old ∪ prefixNew ⋈ δ(base_j) and
    // maintains its intermediate. The LAST level's intermediate is
    // not maintained in the loop — maintainJoinAggDelta maintains
    // exactly that state internally and returns it, so computing it
    // in the loop too would run the chain's largest state-sized
    // shuffle twice per refresh. A middle level's delta is pinned
    // (two consumers: its intermediate's maintenance and the next
    // deltaJoinFeed); the final delta is pinned by
    // maintainJoinAggDelta itself.
    val lastLevel = meta.bases.length - 2
    var leftNew = newBaseStates.head
    var delta = deltas.head
    val newInters = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val deltaPins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (j <- 1 until meta.bases.length - 1) {
      val (iKeys, iSums) = interShapes(j - 1)
      val d2 = deltaJoinFeed(leftNew, baseStates(j), delta, deltas(j),
        meta.levelKeys(j - 1), iKeys, iSums)
      delta = if (j < lastLevel) {
        val pinned2 = d2.localCheckpoint(true)
        deltaPins += pinned2
        requireMergeCompatible(inters(j - 1), pinned2, iSums,
          s"level-$j delta")
        val interNew = mergeStates(inters(j - 1), pinned2, iKeys, iSums)
        newInters += interNew
        leftNew = interNew
        pinned2
      } else d2
    }
    val (v2, lastInterNew, lastNew) = maintainJoinAggDelta(view,
      inters.last, baseStates.last, delta, deltas.last,
      meta.levelKeys.last, meta.groupKeys, meta.sums, meta.where)
    newInters += lastInterNew
    newBaseStates += lastNew
    commitChainState(spark, viewDir, curs, v2,
      newBaseStates.toSeq, newInters.toSeq)
    require(fs.delete(sp, true),
      s"failed to drop the superseded chain state ${pinned.mkString("-")}")
    deltas.foreach(Checkpoints.unpersist)
    deltaPins.foreach(Checkpoints.unpersist)
    for ((b, g) <- meta.bases.zip(curs))
      Layout.registerSnapshotPin(spark, b, viewDir, g)
    ChainViewRefreshStats(pinned, curs, refreshed = true)
  }

  /** Full re-bootstrap fallback (a base vacuumed past its pin or
    * rebuilt under the view): recompute everything at the live
    * generation vector with the META UNTOUCHED, pre-clearing any
    * state whose vector would out-rank the rebuilt one under the
    * readers' rule — same crash discipline as the other rebuilds. */
  def rebuildChainView(spark: org.apache.spark.sql.SparkSession,
                       viewDir: String): ChainViewRefreshStats = {
    val meta = readChainViewMeta(spark, viewDir)
    val fs = viewFs(spark, viewDir)
    val old = chainStateGens(fs, viewDir)
    val gens = meta.bases.map(Layout.currentGeneration(spark, _))
    val frames = meta.bases.zip(gens).map { case (b, g) =>
      Layout.readSnapshot(spark, b, g) }
    val (view0, baseStates, interStates) = bootstrapChain(frames,
      meta.levelKeys, meta.groupKeys, meta.sums, meta.baseKeys,
      meta.baseSums, meta.where)
    for (g <- old if g.sum >= gens.sum)
      require(fs.delete(chainStatePath(viewDir, g), true),
        s"failed to drop chain state ${g.mkString("-")} before rebuild")
    commitChainState(spark, viewDir, gens, view0, baseStates, interStates)
    baseStates.foreach(Checkpoints.unpersist)
    interStates.foreach(Checkpoints.unpersist)
    for (g <- old if g.sum < gens.sum)
      require(fs.delete(chainStatePath(viewDir, g), true),
        s"failed to drop superseded chain state ${g.mkString("-")}")
    for ((b, g) <- meta.bases.zip(gens))
      Layout.registerSnapshotPin(spark, b, viewDir, g)
    ChainViewRefreshStats(chainMax(old :+ gens), gens, refreshed = true)
  }

  /** Full re-bootstrap fallback for the documented refresh boundary
    * (a base vacuumed past its pin, or rebuilt under the view):
    * recompute the trio at both live generations, keep the meta. */
  def rebuildJoinView(spark: org.apache.spark.sql.SparkSession,
                      viewDir: String): JoinViewRefreshStats = {
    val meta = readJoinViewMeta(spark, viewDir)
    val fs = viewFs(spark, viewDir)
    val gA = Layout.currentGeneration(spark, meta.aBase)
    val gB = Layout.currentGeneration(spark, meta.bBase)
    val a0 = aggregateOf(Layout.readSnapshot(spark, meta.aBase, gA)
        .select((meta.aKeys ++ meta.aSums).distinct.map(col): _*),
      meta.aKeys, meta.aSums).localCheckpoint(true)
    val b0 = aggregateOf(Layout.readSnapshot(spark, meta.bBase, gB)
        .select((meta.bKeys ++ meta.bSums).distinct.map(col): _*),
      meta.bKeys, meta.bSums).localCheckpoint(true)
    val v0 = aggregateOfJoin(a0, b0, meta.joinKeys, meta.groupKeys,
      meta.sums, meta.where)
    val old = joinStateGens(fs, viewDir)
    // same pre-clear rule as [[rebuildView]]: an old state whose pair
    // would out-rank the rebuilt label under the readers' max rule
    // (collision, or a base rebuilt at a LOWER generation) clears
    // BEFORE the publish, so a crash can never leave the stale state
    // winning reads
    val (ordA, ordB) = (gA, gB)
    for ((oa, ob) <- old if implicitly[Ordering[(Long, Long)]]
        .gteq((oa, ob), (ordA, ordB)))
      require(fs.delete(joinStatePath(viewDir, oa, ob), true),
        s"failed to drop join view state ($oa, $ob) before rebuild")
    commitJoinState(spark, viewDir, gA, gB, v0, a0, b0)
    for ((oa, ob) <- old if implicitly[Ordering[(Long, Long)]]
        .lt((oa, ob), (ordA, ordB)))
      require(fs.delete(joinStatePath(viewDir, oa, ob), true),
        s"failed to drop superseded join view state ($oa, $ob)")
    Layout.registerSnapshotPin(spark, meta.aBase, viewDir, gA)
    Layout.registerSnapshotPin(spark, meta.bBase, viewDir, gB)
    val (fa, fb) = old.maxOption.getOrElse((gA, gB))
    JoinViewRefreshStats(fa, gA, fb, gB, refreshed = true)
  }
}
