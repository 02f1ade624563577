package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for 100 TB-scale corpora.
  *
  * Design rule: NOTHING here is O(n²) in rows. Exact dedup is one
  * hash-shuffle on the content key; near-dup methods go through a
  * banding/bucketing step (MinHash-LSH, SimHash chunks) so candidate
  * generation is an equi-join on bucket keys — the only all-pairs
  * work happens inside a bucket, whose size is bounded by collision
  * probability, and the final verification join receives only
  * candidates. All hashing is xxhash64 (codegen'd, deterministic),
  * no UDFs.
  */
object Dedup {

  /** Exact dedup by content hash: one shuffle on md5(text); keeps the
    * lowest id per group (deterministic representative). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup keeping the BEST copy per content group rather than
    * the first: representative = argmax of `priority` (ties to the
    * smaller id via `max(struct(priority, -id))` — deterministic
    * under any partitioning). Same single shuffle as [[exact]]; use
    * when copies differ in provenance metadata (crawl date, source
    * quality) and "first seen" throws away the better one. */
  def exactBest(df: DataFrame, idCol: String, textCol: String,
                priority: Column): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(max(struct(priority.as("p"), (-col(idCol)).as("negId"))).as("best"),
        count(lit(1)).as("n_copies"))
      .select(col("text_hash"), (-col("best.negId")).as("keep_id"),
        col("best.p").as("keep_priority"), col("n_copies"))

  /** Distinct word-n-gram shingles: (id, shingle) exploded pairs.
    *
    * The per-document dedup happens INSIDE the row (`array_distinct`
    * over the shingle array) rather than as a frame-level
    * `.distinct()`: one document's shingles never span rows, so the
    * per-row form produces the identical pair set for the corpus
    * shape every caller feeds (one row per document id) while
    * removing the full-corpus shuffle the global distinct paid —
    * measured 4.4× less executor time and 2.9× less shuffle across
    * the whole Jaccard pipeline at sf0.1 (opt r17). Callers that
    * somehow hold duplicate rows for one id must pre-dedup. */
  def shingleTable(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
        explode(array_distinct(TextAnalysis.wordShingles(col(textCol), n))).as("sh"))

  /** Exact n-gram Jaccard pairs ≥ `threshold`, via a prefix-filtered
    * inverted shingle index (the PPJoin/All-Pairs candidate scheme).
    *
    * Candidate generation joins only each document's PREFIX — its
    * `|d| - ceil(t·|d|) + 1` rarest shingles under the global
    * (document-frequency, shingle) order. This is exact, not
    * approximate: if J(A,B) ≥ t, the first element of A∩B in that
    * order lies within both prefixes (at most |A\B| ≤ |A| - ceil(t|A|)
    * elements of A precede it), so the prefix equi-join cannot miss a
    * qualifying pair. A hot boilerplate shingle shared by d documents
    * no longer yields d²/2 candidate rows — it appears in a prefix
    * only where it is among that document's rarest shingles, which
    * bounds the fanout that made the naive self-join quadratic.
    * Survivors pass a length filter (J ≥ t ⇒ min|·| ≥ t·max|·|) and
    * are verified with an exact intersection count over the full
    * shingle sets, so the result is identical to the all-pairs form.
    * The 1e-9 slack on the two ceil/length bounds only ever widens
    * them, absorbing float rounding of t·n at integer boundaries. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double): DataFrame =
    jaccardPairsFromShingles(shingleTable(df, idCol, textCol, n), threshold)

  /** [[jaccardPairs]] from a PRE-COMPUTED `(id, sh)` shingle table —
    * the composition entry point: a pipeline that also runs
    * decontamination/novelty over the same corpus shingles ONCE
    * (ideally materialized — this plan references the frame four
    * times: document frequencies, prefix build, and both sides of
    * the verify join) and feeds every consumer, instead of each
    * operator re-exploding the full text. Semantics identical to
    * [[jaccardPairs]]. */
  def jaccardPairsFromShingles(sh: DataFrame, threshold: Double): DataFrame = {
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df_sh"))
    // set size and rarity rank share one hash-partitioning on id (two
    // window functions, same shuffle) — no separate sizes aggregate,
    // and prefix rows carry n_sh so the candidate pairs need no
    // size-lookup joins afterwards
    val byId = Window.partitionBy("id")
    val byRarity = byId.orderBy(col("df_sh"), col("sh"))
    val prefixLen = col("n_sh") - ceil(lit(threshold) * col("n_sh") - lit(1e-9)) + 1
    val prefix = sh.join(dfreq, "sh")
      .withColumn("n_sh", count(lit(1)).over(byId))
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <= prefixLen)
      .select(col("id"), col("sh"), col("n_sh"))
    // NOTE (opt r18): forcing a shuffled self-join here (one
    // exchange-by-sh, ReusedExchange on both sides — the prefix
    // pipeline would run once instead of twice) was A/B'd and LOST on
    // materialized-shingle callers (q_curate_pipeline 2.29 → 3.10 s):
    // when `sh` is a parquet scan the duplicate subtree is cheap,
    // while the forced exchange moves the full prefix frame. Callers
    // for whom the recompute is expensive materialize `sh` first
    // (the documented composition contract above).
    val cand = prefix.as("pa").join(prefix.as("pb"),
        col("pa.sh") === col("pb.sh") && col("pa.id") < col("pb.id"))
      .select(col("pa.id").as("d1"), col("pb.id").as("d2"),
        col("pa.n_sh").as("n1"), col("pb.n_sh").as("n2"))
      .filter(least(col("n1"), col("n2")) >=
        lit(threshold) * greatest(col("n1"), col("n2")) - lit(1e-9))
      .dropDuplicates("d1", "d2")
    val inter = cand
      .join(sh.as("x"), col("d1") === col("x.id"))
      .join(sh.as("y"), col("d2") === col("y.id") && col("x.sh") === col("y.sh"))
      .groupBy("d1", "d2", "n1", "n2")
      .agg(count(lit(1)).as("n_inter"))
    val jac = col("n_inter") / (col("n1") + col("n2") - col("n_inter"))
    inter.filter(jac >= threshold)
      .select(col("d1"), col("d2"), round(jac, 4).as("jaccard"))
  }

  /** Exact DIRECTED containment pairs `C(A→B) = |A∩B| / |A| ≥ t` —
    * quote/subset detection: a short document living inside a long
    * one scores 1.0 while the pair's Jaccard can be arbitrarily low,
    * so symmetric near-dup passes never see it.
    *
    * Same inverted-index prefix filter as [[jaccardPairs]], made
    * asymmetric: only the CONTAINED side prunes to its
    * `|A| − ceil(t·|A|) + 1` rarest shingles (if `|A∩B| ≥ t·|A|`
    * then `|A\B| ≤ |A| − ceil(t·|A|)` < prefix length, so a prefix
    * shingle must land in B), while the containing side indexes ALL
    * its shingles. That full-side index is what makes the join
    * dangerous on a boilerplate-heavy corpus — a shingle present in
    * d documents fans out d candidate rows for every prefix
    * occurrence — so two exact bounds ride IN the join condition,
    * pruning matches inside the join loop before they reach the
    * dedup shuffle:
    *
    *   - length: `|B| ≥ t·|A|` (since `|A∩B| ≤ |B|`);
    *   - positional (PPJoin's filter): both sides rank shingles by
    *     the same global (document-frequency, shingle) total order,
    *     so the globally-minimal element s* of A∩B has minimal rank
    *     within BOTH documents, and every intersection element sits
    *     at rank ≥ rk(s*) in each — hence
    *     `|A∩B| ≤ min(|A| − rkA, |B| − rkB) + 1` for the s*-match.
    *     Requiring that bound ≥ ceil(t·|A|) cannot lose a true pair
    *     (rkA(s*) ≤ prefixLen, so the s*-row itself is generated and
    *     survives), while a hot boilerplate shingle — by definition
    *     high-df, therefore ranked near the END of every document
    *     that holds it — has `|B| − rkB` too small to satisfy any
    *     non-trivial overlap requirement, capping exactly the
    *     hot-shingle fanout the symmetric prefix filter prevents for
    *     Jaccard.
    *
    * Survivors are verified with an exact intersection count — the
    * result is identical to the all-pairs form. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double): DataFrame =
    containmentPairsFromShingles(shingleTable(df, idCol, textCol, n),
      threshold)

  /** [[containmentPairs]] from a PRE-COMPUTED `(id, sh)` shingle
    * table — the same composition entry point
    * [[jaccardPairsFromShingles]] offers: a pipeline running
    * jaccard + containment + novelty over one corpus shingles ONCE
    * (materialized) and feeds every consumer, instead of paying a
    * second full text explode — at 100 TB the most expensive scan
    * in the whole dedup family. Semantics identical. */
  def containmentPairsFromShingles(sh: DataFrame,
                                   threshold: Double): DataFrame = {
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df_sh"))
    val byId = Window.partitionBy("id")
    val byRarity = byId.orderBy(col("df_sh"), col("sh"))
    val withSizes = sh.join(dfreq, "sh")
      .withColumn("n_sh", count(lit(1)).over(byId))
      .withColumn("rk", row_number().over(byRarity))
    val prefixLen = col("n_sh") - ceil(lit(threshold) * col("n_sh") - lit(1e-9)) + 1
    val prefix = withSizes.filter(col("rk") <= prefixLen)
      .select(col("id"), col("sh"), col("n_sh"), col("rk"))
    val full = withSizes.select(col("id"), col("sh"), col("n_sh"), col("rk"))
    val needed = ceil(lit(threshold) * col("pa.n_sh") - lit(1e-9))
    val cand = prefix.as("pa").join(full.as("fb"),
        col("pa.sh") === col("fb.sh") && col("pa.id") =!= col("fb.id") &&
          col("fb.n_sh") >= lit(threshold) * col("pa.n_sh") - lit(1e-9) &&
          least(col("pa.n_sh") - col("pa.rk"), col("fb.n_sh") - col("fb.rk")) + 1 >= needed)
      .select(col("pa.id").as("d1"), col("fb.id").as("d2"),
        col("pa.n_sh").as("n1"))
      .dropDuplicates("d1", "d2")
    val inter = cand
      .join(sh.as("x"), col("d1") === col("x.id"))
      .join(sh.as("y"), col("d2") === col("y.id") && col("x.sh") === col("y.sh"))
      .groupBy("d1", "d2", "n1")
      .agg(count(lit(1)).as("n_inter"))
    val cont = col("n_inter") / col("n1")
    inter.filter(cont >= threshold)
      .select(col("d1"), col("d2"), round(cont, 4).as("containment"))
  }

  /** MinHash signatures via explode + partial aggregation: one
    * (id, shingle) row per distinct shingle, then `numHashes`
    * map-side-combinable `min(xxhash64(seed, shingle))` aggregates in
    * a single shuffle. This deliberately avoids the per-row
    * higher-order-function formulation: nested HOF lambdas are
    * interpreted and re-evaluate the shingle-building subtree once
    * per hash index (measured ~50× slower at sf0.1), while min-agg is
    * codegen'd and scales out with partitions.
    *
    * `portable = true` swaps the per-index hash for the universal
    * family `h_i(x) = (A_i·x + B_i) mod 1e9+7` over the shingle's
    * 31-polynomial rolling hash x ([[graft.functions.RollingHash]]),
    * with A_i/B_i MINSTD-derived constants
    * ([[Sampling.minstd2]]) — every step is plain 64-bit integer
    * arithmetic a SQL oracle re-derives exactly. Same shape, same
    * single shuffle; only the hash arithmetic changes.
    * Output: id, sig (array<long> of length numHashes). */
  /** Exact edit-distance (Levenshtein ≤ `tau`) similarity join over
    * short strings — typo-tolerant entity matching (names, titles,
    * URLs), where token-set measures are blind (one character edit
    * leaves Jaccard ≈ 1 on long docs but breaks short keys entirely).
    *
    * Ed-Join-style q-gram prefix filter (Xiao, Wang & Lin's published
    * candidate bound): one edit destroys at most `q` distinct
    * q-grams, so ED ≤ tau forces `|G(a) ∩ G(b)| ≥ max(|G|) − q·tau`
    * — a set-overlap bound whose prefix length is `q·tau + 1` grams
    * in the global (document-frequency, gram) order, the same
    * machinery as [[jaccardPairsFromShingles]]. Candidates must also
    * pass the length filter `||a|−|b|| ≤ tau`, applied IN the join
    * condition. Verification is the codegen'd `levenshtein` builtin
    * on the surviving pairs only; strings ride the prefix frame
    * (they are short keys by assumption — do not point this at
    * document bodies; use the shingle measures there).
    *
    * Returns `(d1, d2, dist)`, `d1 < d2`. */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        tau: Int, q: Int = 2): DataFrame = {
    require(tau >= 1 && q >= 1, "need tau >= 1 and q >= 1")
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .withColumn("len", length(col("s")))
    val gr = base.withColumn("g", explode(array_distinct(
      transform(sequence(lit(1), greatest(col("len") - (q - 1), lit(1))),
        i => col("s").substr(i, lit(q))))))
    val dfreq = gr.groupBy("g").agg(count(lit(1)).as("df_g"))
    val byRarity = Window.partitionBy("id").orderBy(col("df_g"), col("g"))
    val prefix = gr.join(dfreq, "g")
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <= q * tau + 1)
      .select(col("id"), col("g"), col("s"), col("len"))
    val gramPairs = prefix.as("a").join(prefix.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
          abs(col("a.len") - col("b.len")) <= tau)
      .select(col("a.id").as("d1"), col("b.id").as("d2"),
        col("a.s").as("s1"), col("b.s").as("s2"))
    // the Ed-Join bound max(|G|) − q·tau forces a shared gram only
    // when SOME side has more than q·tau distinct grams; a pair BOTH
    // at or under that floor (very short or degenerately repetitive
    // keys — "ab" vs "ba" at q = 2, tau = 2) can sit within tau edits
    // sharing no gram at all, so the gram join would silently miss
    // it. Those pairs verify directly: the short bucket all-pairs
    // joins under the same length filter. Bounded by the bucket —
    // the ≲ q·(tau+1)-char tail of a key corpus, tiny in practice —
    // and what makes the documented exactness hold over the WHOLE
    // string domain, not just the long-key regime the filter targets.
    val gcnt = gr.groupBy("id").agg(count(lit(1)).as("ng"))
    val short = base.join(gcnt, "id").filter(col("ng") <= q * tau)
    val shortPairs = short.as("a").join(short.as("b"),
        col("a.id") < col("b.id") &&
          abs(col("a.len") - col("b.len")) <= tau)
      .select(col("a.id").as("d1"), col("b.id").as("d2"),
        col("a.s").as("s1"), col("b.s").as("s2"))
    gramPairs.unionByName(shortPairs)
      .dropDuplicates("d1", "d2")
      .withColumn("dist", levenshtein(col("s1"), col("s2")))
      .filter(col("dist") <= tau)
      .select("d1", "d2", "dist")
  }

  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleLen: Int, numHashes: Int,
                        portable: Boolean = false): DataFrame = {
    val sh0 = shingleTable(df, idCol, textCol, shingleLen)
    val sh = if (portable)
      sh0.select(col("id"),
        graft.functions.TextExpressions.rollingHash(col("sh")).as("rh"))
    else sh0
    val mins = (0 until numHashes).map { i =>
      val h = if (portable)
        pmod(lit(Sampling.minstd2(2 * i + 1)) * col("rh") + lit(Sampling.minstd2(2 * i + 2)),
          lit(1000000007L))
      else xxhash64(lit(i), col("sh"))
      min(h).as(s"h$i")
    }
    sh.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** MinHash-LSH candidate pairs verified by signature agreement.
    *
    * bands × rowsPerBand = signature length. Pipeline: shingle →
    * signature (one shuffle) → explode band hashes → equi-join on
    * (band, bandHash) → distinct candidate pairs → verify estimated
    * Jaccard (fraction of agreeing signature positions) ≥ threshold.
    */
  /** Banded signature rows (id, sig, band, bh) derived from an
    * (id, sig) signature frame — a bounded per-row fold over the
    * STORED signature, no text access and no shingle explode, which
    * is what makes the banding re-derivable from a persisted
    * signature store ([[incremental]]). Band hash: xxhash64 of the
    * band's slice, or (portable) a 31-polynomial fold mod 1e9+7 of
    * the band's values in order — extra bucket collisions only add
    * candidates, which the signature-agreement verify filters
    * identically on both engines. */
  private def bandedSignatures(sigs: DataFrame, bands: Int, rowsPerBand: Int,
                               portable: Boolean): DataFrame = {
    def bandHash(b: Column): Column = {
      val bandVals = slice(col("sig"), b * lit(rowsPerBand) + lit(1), lit(rowsPerBand))
      if (portable)
        aggregate(bandVals, lit(0L), (h, v) => pmod(h * 31L + v, lit(1000000007L)))
      else xxhash64(bandVals)
    }
    sigs.select(col("id"), col("sig"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"), bandHash(b).as("bh")))).as("e"))
      .select(col("id"), col("sig"), col("e.band"), col("e.bh"))
  }

  /** Estimated Jaccard between two signature columns: fraction of
    * agreeing positions. */
  private def sigAgreement(a: Column, b: Column, numHashes: Int): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), p => p))
      .cast("double") / lit(numHashes)

  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleLen: Int = 5, bands: Int = 8, rowsPerBand: Int = 4,
                      threshold: Double = 0.7, portable: Boolean = false): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sigs = minhashSignatures(df, idCol, textCol, shingleLen, numHashes, portable)
    val banded = bandedSignatures(sigs, bands, rowsPerBand, portable)
    val a = banded.as("a"); val b = banded.as("b")
    val cand = a.join(b,
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("d1"), col("b.id").as("d2"),
        col("a.sig").as("sig1"), col("b.sig").as("sig2"))
      .dropDuplicates("d1", "d2")
    val est = sigAgreement(col("sig1"), col("sig2"), numHashes)
    cand.select(col("d1"), col("d2"), round(est, 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Incremental (delta) near-dup detection: a NEW batch of documents
    * against a persisted signature STORE — the shape a 100 TB corpus
    * actually runs, where re-shingling the existing corpus on every
    * arriving batch is not an option. The store is just
    * [[minhashSignatures]] output (id, sig) persisted once (parquet /
    * a table); this operator shingles ONLY the delta, re-derives
    * band buckets on both sides from signatures alone (a bounded
    * per-row fold — the store's documents' text is never touched),
    * equi-joins on (band, bandHash) and verifies candidates by
    * signature agreement, exactly [[minhashLshPairs]] semantics
    * across the delta↔store cut.
    *
    * Output: one row per delta document and qualifying store match —
    * (d_new, d_old, est_jaccard, status='dup') — plus one
    * (d_new, null, null, 'new') row for each delta document with no
    * match (the store-append candidates). Batch-internal duplicates
    * are deliberately out of scope: run [[minhashLshPairs]] on the
    * (small) delta itself for those.
    *
    * Store-side parameters must match the ones the store was built
    * with (`bands · rowsPerBand` = stored signature length). */
  def incremental(delta: DataFrame, store: DataFrame,
                  idCol: String, textCol: String,
                  shingleLen: Int = 5, bands: Int = 8, rowsPerBand: Int = 4,
                  threshold: Double = 0.7, portable: Boolean = false): DataFrame = {
    val numHashes = bands * rowsPerBand
    val deltaSigs = minhashSignatures(delta, idCol, textCol, shingleLen, numHashes, portable)
    val dB = bandedSignatures(deltaSigs, bands, rowsPerBand, portable)
      .select(col("id").as("d_new"), col("sig").as("sig_new"), col("band"), col("bh"))
    val sB = bandedSignatures(store.select(col("id"), col("sig")),
        bands, rowsPerBand, portable)
      .select(col("id").as("d_old"), col("sig").as("sig_old"), col("band"), col("bh"))
    val cand = dB.join(sB, Seq("band", "bh"))
      .select(col("d_new"), col("d_old"), col("sig_new"), col("sig_old"))
      .dropDuplicates("d_new", "d_old")
    val est = sigAgreement(col("sig_new"), col("sig_old"), numHashes)
    val matched = cand
      .select(col("d_new"), col("d_old"), round(est, 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
    delta.select(col(idCol).as("d_new"))
      .join(matched, Seq("d_new"), "left")
      .select(col("d_new"), col("d_old"), col("est_jaccard"),
        when(col("d_old").isNull, lit("new")).otherwise(lit("dup")).as("status"))
  }

  /** Exact-duplicate variant of [[incremental]]: the store is the
    * persisted [[exact]] output (text_hash, keep_id, …) — one narrow
    * content-hash table, no text on the store side at all. The
    * arriving batch is hashed per-row and left-joined: 'dup' rows
    * carry the store's representative id, 'new' rows are the
    * append set. One equi-join, broadcastable when the delta is
    * small relative to the store's hash table partitioning. */
  def incrementalExact(delta: DataFrame, hashStore: DataFrame,
                       idCol: String, textCol: String): DataFrame =
    delta.select(col(idCol).as("d_new"), md5(col(textCol)).as("text_hash"))
      .join(hashStore.select(col("text_hash"), col("keep_id").as("d_old")),
        Seq("text_hash"), "left")
      .select(col("d_new"), col("d_old"),
        when(col("d_old").isNull, lit("new")).otherwise(lit("dup")).as("status"))

  /** Connected components over a near-dup pair list: the step that
    * turns pairwise matches into an actionable keep-set (pairs alone
    * under-delete — A~B and B~C must collapse to ONE representative
    * even when A~C was never emitted). Output: (id, rep) where rep is
    * the smallest id reachable through the pair graph; rows exist
    * only for ids that appear in some pair (untouched docs need no
    * dedup decision).
    *
    * Algorithm: iterative min-label propagation with pointer
    * jumping. Each round takes the min over (own label, every
    * neighbour's label, the label OF own label) — the last term is
    * the pointer-jumping shortcut that halves the remaining distance
    * to the component minimum, so rounds are O(log diameter), not
    * O(diameter) (a 20-node path converges in ~5 rounds, spec-pinned
    * below). Every round is ONE distributed join (edges ∪ pointer
    * edges against the current labels) + one min/max aggregate — no
    * driver-side graph. The identity branch of that aggregate carries
    * each id's current rep in a `cur` column, so the round's changed
    * count is a plain `rep =!= cur` filter over the round's own
    * checkpoint: per-id reps are monotonically non-increasing, and
    * zero changes is exactly the fixpoint (one action per round, no
    * old-vs-new join). Each round's labels are localCheckpoint'ed and
    * materialized by that count: the round references the previous
    * labels more than once, so without truncation the logical plan
    * grows geometrically and analysis itself OOMs — checkpointing is
    * load-bearing here, not an optimization (on a multi-node cluster
    * swap in reliable `checkpoint` if executor loss matters).
    *
    * Reuse contract at scale: the pair graph is usually also wanted
    * on its own (audit, pair-level policies), and re-deriving it
    * means re-shingling the corpus. Persist the pair frame ONCE
    * (parquet, not executor cache — the Curation rationale) and feed
    * the persisted frame to both consumers; `scratchDir` does the
    * same for the OUTPUT labels: when set, the final labels are
    * written to `scratchDir/cc_labels` and the returned frame is the
    * parquet read-back — flat file lineage, and every in-memory label
    * checkpoint from the loop is unpersisted before returning, so
    * repeated invocations cannot accumulate cached frames. With
    * `scratchDir = None` the returned frame IS the last eager
    * localCheckpoint (do not unpersist it while still consuming) —
    * except at `maxRounds == 0`, where no round runs and the result
    * is the lazy identity labeling (id, rep = id) over the pairs'
    * own lineage. */
  def clusters(pairs: DataFrame, d1: String = "d1", d2: String = "d2",
               maxRounds: Int = 20,
               scratchDir: Option[String] = None): DataFrame =
    clustersWithRounds(pairs, d1, d2, maxRounds, scratchDir)._1

  /** RDD-level unpersist for a localCheckpoint'ed frame (shared
    * [[Checkpoints.unpersist]]; probed empirically:
    * `Dataset.unpersist()` leaves getPersistentRDDs unchanged — the
    * blocks must be dropped through the wrapped `LogicalRDD`). A
    * local checkpoint has no lineage to recompute from, so this is
    * only safe once the frame's data lives somewhere else (the next
    * round's checkpoint, or parquet). */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    Checkpoints.unpersist(df)

  /** [[clusters]] plus the number of propagation rounds it took to
    * converge — the O(log diameter) claim made observable (stress
    * harness + specs assert on it). */
  def clustersWithRounds(pairs: DataFrame, d1: String = "d1", d2: String = "d2",
                         maxRounds: Int = 20,
                         scratchDir: Option[String] = None): (DataFrame, Int) = {
    val fwd = pairs.select(col(d1).as("a"), col(d2).as("b"))
    val edges = fwd.unionAll(fwd.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .persist()
    val idType = edges.schema("a").dataType
    val nullCur = lit(null).cast(idType).as("cur")
    // Round shape (opt r18 — one join, one shuffle, one action per
    // round, down from three joins plus a compare-join):
    //   - the pointer-jump term "rep OF own rep" is the edge term
    //     over the POINTER EDGES (a = rep, b = id): joining
    //     edges ∪ pointerEdges against labels on a = id distributes
    //     over the union, so one join replaces the former
    //     viaEdges/viaPointer pair — identical propagated multiset;
    //   - convergence = NO id changed its rep this round, an exact,
    //     type-agnostic scalar (string ids and full-range 64-bit hash
    //     ids both work, where a sum("rep") fingerprint would fail on
    //     strings and overflow under ANSI on big longs). Per-id reps
    //     are monotone non-increasing, so zero changes is exactly the
    //     fixed point. Instead of a |V|⋈|V| next-vs-current join, the
    //     identity branch of the union CARRIES the current rep in a
    //     `cur` column (propagation rows carry null); max(cur) in the
    //     SAME aggregation recovers it — each id has exactly one
    //     identity row per round (many at round 0, all equal to id) —
    //     and the change count is a plain filter over the round's
    //     checkpoint, no join;
    //   - round 0 needs no join at all: labels start as rep = id, so
    //     the edge term is edges.select(b, a) verbatim and the
    //     identity term is edges.select(a, a, a) (duplicates collapse
    //     under min/max), which also deletes the former pre-loop
    //     |E|-distinct node derivation.
    // The count is the round's materializing action (LAZY
    // checkpoints: one job per round).
    var labels: DataFrame = null // round-k checkpoint: (id, rep, cur)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val prop0 =
        if (round == 0)
          edges.select(col("b").as("id"), col("a").as("rep"), nullCur)
            .unionAll(edges.select(col("a").as("id"), col("a").as("rep"),
              col("a").as("cur")))
        else {
          val cur = labels.select(col("id"), col("rep"))
          val pointerEdges = cur.select(col("rep").as("a"), col("id").as("b"))
          edges.unionAll(pointerEdges)
            .join(cur.select(col("id").as("__jid"), col("rep")),
              col("a") === col("__jid"))
            .select(col("b").as("id"), col("rep"), nullCur)
            .unionAll(cur.select(col("id"), col("rep"), col("rep").as("cur")))
        }
      val prop = prop0
        .groupBy("id").agg(min("rep").as("rep"), max("cur").as("cur"))
        .localCheckpoint(false)
      val changed = prop.filter(col("rep") =!= col("cur")).count() // materializes prop
      if (labels != null)
        unpersistCheckpoint(labels) // prop is already eagerly materialized
      labels = prop
      converged = changed == 0L
      round += 1
    }
    val labelsOut =
      if (labels != null) labels.select(col("id"), col("rep"))
      else // maxRounds == 0: the identity labeling, never iterated
        edges.select(col("a").as("id")).distinct().withColumn("rep", col("id"))
    val out = scratchDir match {
      case Some(dir) =>
        // materialize to parquet and drop the in-memory checkpoint:
        // the caller gets a plain file-backed frame and the session
        // keeps zero cached label RDDs
        val path = s"$dir/cc_labels"
        labelsOut.write.mode("overwrite").parquet(path)
        if (labels != null) unpersistCheckpoint(labels) // data now lives in parquet
        edges.unpersist()
        pairs.sparkSession.read.parquet(path)
      case None =>
        // the returned frame is a projection of a materialized
        // localCheckpoint: flat lineage, (id, rep) payload only —
        // callers that care can unpersist after consuming
        // ([[Checkpoints.unpersist]] strips the projection)
        edges.unpersist()
        labelsOut
    }
    (out, round)
  }

  /** 64-bit SimHash signatures via explode + partial aggregation:
    * one (id, token-hash) row per token, then 64 sum-of-±1-votes
    * aggregates in a single map-side-combinable shuffle; bit j of the
    * signature is the sign of vote j. (Same rationale as
    * [[minhashSignatures]]: the per-row nested-HOF fold re-evaluates
    * the tokenization per bit and is interpreted, not codegen'd.)
    * Output: id, sig (long). */
  /** `portable = true` derives bit j's vote from the parity of
    * `(A_j·rh(token) + B_j) mod 1e9+7` (rolling-hash token base,
    * MINSTD constants — see [[minhashSignatures]]) instead of bit j
    * of xxhash64, making the signature re-derivable in plain SQL. */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        portable: Boolean = false): DataFrame = {
    val raw = df.select(col(idCol).as("id"),
      explode(split(lower(col(textCol)), "\\s+")).as("t"))
    val tok =
      if (portable) raw.select(col("id"),
        graft.functions.TextExpressions.rollingHash(col("t")).as("h"))
      else raw.select(col("id"), xxhash64(col("t")).as("h"))
    def bit(j: Int): Column =
      if (portable)
        pmod(lit(Sampling.minstd2(2 * j + 1)) * col("h") + lit(Sampling.minstd2(2 * j + 2)),
          lit(1000000007L)).bitwiseAND(lit(1L))
      else shiftright(col("h"), j).bitwiseAND(lit(1L))
    val votes = (0 until 64).map(j => sum(bit(j) * 2 - 1).as(s"v$j"))
    val sig = (0 until 64)
      .map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    tok.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"), sig.as("sig"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`,
    * using the pigeonhole principle for candidate generation: split
    * the 64-bit signature into `maxHamming + 1` chunks — any pair
    * within distance `maxHamming` must agree on ≥ 1 whole chunk, so
    * candidates come from an equi-join on (chunkIdx, chunkValue),
    * never an all-pairs scan. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, portable: Boolean = false): DataFrame = {
    val chunks = maxHamming + 1
    val bitsPerChunk = 64 / chunks
    val sigs = simhashSignatures(df, idCol, textCol, portable)
    val chunked = sigs.select(col("id"), col("sig"),
      explode(transform(sequence(lit(0), lit(chunks - 1)),
        c => struct(c.as("ci"),
          call_function("shiftright", col("sig"), c * lit(bitsPerChunk))
            .bitwiseAND(lit((1L << bitsPerChunk) - 1)).as("cv")))).as("e"))
      .select(col("id"), col("sig"), col("e.ci"), col("e.cv"))
    val a = chunked.as("a"); val b = chunked.as("b")
    a.join(b, col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") && col("a.id") < col("b.id"))
      .select(col("a.id").as("d1"), col("b.id").as("d2"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .dropDuplicates("d1", "d2")
      .filter(col("hamming") <= maxHamming)
  }

  /** Benchmark decontamination: flag corpus documents sharing at least
    * one word-`n`-gram with any document of `evalSet` — the standard
    * train/eval overlap scrub run before pretraining (eval benchmarks
    * leak into web scrapes; contaminated docs inflate downstream
    * scores).
    *
    * Returns every corpus row as (doc_id, hit_shingles, contaminated)
    * where `hit_shingles` counts the document's DISTINCT n-grams that
    * appear anywhere in the eval set.
    *
    * 100 TB posture: the eval side is benchmarks — MBs, not TBs — so
    * its distinct shingle set is collected into a broadcast hash join
    * (`broadcast()` hint); the corpus side is a shuffle-free explode
    * feeding that map-side join, and only the (rare) hits reach the
    * `groupBy(id)` count, which partial-aggregates map-side. The
    * final left join attaches zero counts to clean docs. No stage
    * moves the corpus text more than once. */
  /** Per-benchmark contamination attribution: like [[decontaminate]]
    * but the eval side carries a benchmark id, and the output says
    * WHICH benchmark leaked into which corpus document —
    * (doc_id, bench_id, hit_shingles), hits only. The release
    * question is never just "is it contaminated" but "against what",
    * since each affected eval score needs its own correction. Same
    * broadcast shape: eval (bench, shingle) pairs are small;
    * the corpus explodes once, map-side. */
  def decontaminateBy(corpus: DataFrame, evalSet: DataFrame, idCol: String,
                      textCol: String, benchCol: String, n: Int): DataFrame = {
    val evalShingles = evalSet
      .select(col(benchCol).as("bench_id"),
        explode(TextAnalysis.wordShingles(col(textCol), n)).as("sh"))
      .distinct()
    shingleTable(corpus, idCol, textCol, n)
      .join(broadcast(evalShingles), "sh")
      .groupBy(col("id").as("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("hit_shingles"))
  }

  /** Per-document n-gram novelty: the fraction of a document's
    * DISTINCT word-n-grams that appear in NO other document — the
    * aggregate complement of pair-level near-dup detection, used as a
    * curation signal (low novelty = boilerplate-heavy or templated
    * text even when no single pair crosses a Jaccard threshold).
    *
    * One shuffle on the shingle for document frequencies, then a
    * map-side-combined per-doc aggregate; the ratio is an exact
    * integer-count division both engines reproduce bit-for-bit. A
    * sub-n-token document has no shingles → novelty NULL. */
  def shingleNovelty(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val sh = shingleTable(df, idCol, textCol, n)
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df_sh"))
    val perDoc = sh.join(dfreq, "sh")
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df_sh") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty",
        round(col("n_unique").cast("double") / col("n_shingles"), 6))
    df.select(col(idCol).as("doc_id")).join(perDoc, Seq("doc_id"), "left")
  }

  /** Boilerplate n-grams: shingles appearing in ≥ `minDocs` distinct
    * documents, with their document counts — the corpus-wide template
    * detector (header/footer/license text shows up here first). One
    * shuffle; output is bounded by the boilerplate vocabulary. */
  def boilerplateShingles(df: DataFrame, idCol: String, textCol: String,
                          n: Int, minDocs: Int): DataFrame =
    shingleTable(df, idCol, textCol, n)
      .groupBy("sh").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** C4-style span-level boilerplate REMOVAL: cut the corpus into
    * consecutive `spanWords`-token blocks, drop every block whose
    * exact text occurs in ≥ `minDocs` distinct documents, and
    * reconstruct each document's remaining text in original order
    * (C4 does this per line; this corpus is single-line, so the unit
    * is a fixed-width token block). Unlike [[boilerplateShingles]],
    * which REPORTS the templates, this rewrites the corpus — the
    * dedup pass that strips headers/footers/license walls while
    * keeping the documents themselves.
    *
    * Returns every input row as (doc_id, cleaned) — empty string when
    * all blocks were boilerplate.
    *
    * 100 TB posture: block formation is a shuffle-free per-row slice
    * of the token array (no self-join, no window). Block document
    * frequencies are one shuffle with partial aggregation; the
    * boilerplate set — bounded by the repeated-block vocabulary,
    * which `minDocs` keeps far below corpus size — broadcasts into a
    * map-side anti-join, so the corpus itself is never re-shuffled on
    * the (skew-prone) block text. Reassembly shuffles once on doc_id.
    * If the template vocabulary ever outgrows a broadcast, dropping
    * the hint falls back to a shuffle anti-join with the same
    * semantics. */
  def stripBoilerplateSpans(df: DataFrame, idCol: String, textCol: String,
                            spanWords: Int, minDocs: Int): DataFrame = {
    val toks = split(col(textCol), " ")
    val nSpans = ceil(size(toks) / lit(spanWords.toDouble)).cast("int")
    val spans = df.select(col(idCol).as("doc_id"),
      posexplode(transform(sequence(lit(0), nSpans - 1),
        i => array_join(slice(toks, i * spanWords + 1, lit(spanWords)), " ")))
        .as(Seq("span_id", "span")))
    val boiler = spans.groupBy("span")
      .agg(countDistinct("doc_id").as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("span")
    val kept = spans.join(broadcast(boiler), Seq("span"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("span_id"), col("span")))),
          s => s.getField("span")), " ").as("cleaned"))
    df.select(col(idCol).as("doc_id")).join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  def decontaminate(corpus: DataFrame, evalSet: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame = {
    val evalShingles = evalSet
      .select(explode(TextAnalysis.wordShingles(col(textCol), n)).as("sh"))
      .distinct()
    decontaminateFromShingles(corpus.select(col(idCol)), idCol,
      shingleTable(corpus, idCol, textCol, n), evalShingles)
  }

  /** [[decontaminate]] from pre-computed frames: `corpusShingles` is
    * the corpus's `(id, sh)` table, `evalShingles` the eval set's
    * distinct `sh` column, `corpusIds` one row per corpus document
    * (so clean documents appear with zero hits). The composition
    * entry point — a pipeline shingles its corpus ONCE and feeds
    * decontamination, near-dup pairing, and novelty from the same
    * materialized frame. */
  def decontaminateFromShingles(corpusIds: DataFrame, idCol: String,
                                corpusShingles: DataFrame,
                                evalShingles: DataFrame): DataFrame = {
    val hits = corpusShingles
      .join(broadcast(evalShingles), "sh")
      .groupBy("id").agg(count(lit(1)).as("hit_shingles"))
    corpusIds.select(col(idCol).as("doc_id"))
      .join(hits.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("hit_shingles"), lit(0L)).as("hit_shingles"),
        (coalesce(col("hit_shingles"), lit(0L)) > 0).as("contaminated"))
  }

  /** Per-document content-defined chunks:
    * `(doc_id, chunk_id, n_chars, chunk_md5)` via
    * [[graft.functions.CdcBoundaries]] — the substrate for
    * storage-style chunk dedup ([[cdcDupProfile]]). One O(len)
    * boundary pass per row plus a key-partitioned window for the
    * chunk offsets; chunk hashes are md5 so downstream joins ship
    * 16-byte keys, never text. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                window: Int = 16, maskBits: Int = 6): DataFrame =
    cdcChunkSpans(docs, idCol, textCol, window, maskBits)
      .select(col("doc_id"), col("chunk_id"),
        col("c_len").cast("long").as("n_chars"), col("chunk_md5"))

  /** The ONE boundary→chunk derivation (offsets, lengths, md5) both
    * the measuring side ([[cdcChunks]] → [[cdcDupProfile]]) and the
    * rewriting side ([[stripDuplicateChunks]]) consume — a change to
    * the cut semantics cannot desynchronize the profile from the
    * rewrite. */
  private def cdcChunkSpans(docs: DataFrame, idCol: String, textCol: String,
                            window: Int, maskBits: Int): DataFrame = {
    val b = docs.select(col(idCol).as("doc_id"), col(textCol).as("__t"),
      posexplode(graft.functions.TextExpressions
        .cdcBoundaries(col(textCol), window, maskBits)))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    b.withColumn("__prev", coalesce(lag(col("col"), 1).over(w), lit(0)))
      .select(col("doc_id"), col("pos").as("chunk_id"),
        (col("__prev") + 1).as("c_start"),
        (col("col") - col("__prev")).as("c_len"),
        md5(col("__t").substr(col("__prev") + 1, col("col") - col("__prev")))
          .as("chunk_md5"))
  }

  /** Chunk-level duplication profile: for each document, how many of
    * its CDC chunks also occur in ANOTHER document — the
    * storage-dedup view of corpus redundancy (boilerplate headers,
    * quoted passages, mirrored pages), robust to insert/delete edits
    * because the chunking re-synchronizes ([[cdcChunks]]). NO pair
    * join: chunk → distinct-doc count is one shuffle on the md5, the
    * profile one shuffle on the doc — a 100 TB corpus never
    * materializes its duplicate-pair quadratic. */
  def cdcDupProfile(docs: DataFrame, idCol: String, textCol: String,
                    window: Int = 16, maskBits: Int = 6): DataFrame = {
    val chunks = cdcChunks(docs, idCol, textCol, window, maskBits)
    val docsPerChunk = chunks.select(col("chunk_md5"), col("doc_id")).distinct()
      .groupBy("chunk_md5").agg(count(lit(1)).as("__nd"))
    chunks.join(docsPerChunk, "chunk_md5")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__nd") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_ratio", round(col("n_dup_chunks") / col("n_chunks"), 6))
  }

  /** Corpus-wide exact duplicate-substring REMOVAL (the rewrite the
    * profile above only measures): every content-defined chunk that
    * occurs more than once in the corpus survives ONLY at its
    * globally-first occurrence — min `(doc_id, chunk_id)` — and is
    * cut from every other document; unique chunks always survive.
    * This is the "deduplicate exact substrings, keep one copy"
    * training-data cleanup (Lee et al. 2022, arXiv:2107.06499)
    * re-expressed over CDC chunks: because the cut points are
    * content-defined ([[graft.functions.TextExpressions.cdcBoundaries]]),
    * the same paragraph pasted at a different offset in another page
    * yields the same interior chunks, so cross-document duplicated
    * passages line up chunk-for-chunk with NO quadratic substring
    * search and no positional alignment step.
    *
    * Scale shape: the keep/drop decision shuffles only
    * `(chunk_md5, doc_id, chunk_id)` — 16-byte keys plus two ints,
    * never text; min-struct aggregation is map-side combinable. The
    * rebuild joins that narrow decision frame back to the corpus and
    * re-cuts each kept chunk from the original text (one text
    * shuffle, the unavoidable cost of any rewrite). Documents losing
    * every chunk come back with `cleaned = ''`, documents with empty
    * text pass through untouched with `n_chunks = 0`.
    *
    * Output: `(doc_id, n_chunks, n_dropped, cleaned)`.
    */
  def stripDuplicateChunks(docs: DataFrame, idCol: String, textCol: String,
                           window: Int = 16, maskBits: Int = 6): DataFrame = {
    val chunks = cdcChunkSpans(docs, idCol, textCol, window, maskBits)
    // global first occurrence per chunk content: 16-byte-key shuffle
    val firstOcc = chunks.select("chunk_md5", "doc_id", "chunk_id")
      .groupBy("chunk_md5")
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("__first"))
    val decided = chunks.join(firstOcc, "chunk_md5")
      .withColumn("__keep", col("__first.doc_id") === col("doc_id") &&
        col("__first.chunk_id") === col("chunk_id"))
    // collect_list drops the nulls `when` leaves for cut chunks;
    // array_sort on (chunk_id, …) structs restores document order
    val rebuilt = decided.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_dropped"),
        array_sort(collect_list(when(col("__keep"),
          struct(col("chunk_id"), col("c_start"), col("c_len"))))).as("__kept"))
    docs.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(aggregate(col("__kept"), lit(""), (acc, s) =>
          concat(acc, col("__t").substr(s.getField("c_start"),
            s.getField("c_len")))), lit("")).as("cleaned"))
  }

  /** Winnowing-fingerprint near-dup candidate pairs (the MOSS
    * construction — [[graft.functions.WinnowFingerprints]]):
    * fingerprint every document in one per-row pass, drop
    * fingerprints present in more than `maxDf` documents (a hot
    * boilerplate k-gram generates O(df²) noise pairs — the same
    * document-frequency cap discipline as the shingle joins), then
    * count the DISTINCT fingerprints each pair shares and keep pairs
    * with ≥ `minShared`. The winnowing guarantee (any shared
    * substring of length ≥ k+w−1 yields ≥ 1 shared fingerprint)
    * makes this a position-robust candidate generator at ~2/(w+1)
    * the cost of full shingle joins: only ~12-byte (id, hash) rows
    * ever shuffle, never text, and the pair join fans out at most
    * `maxDf` per fingerprint by construction. */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 8, w: Int = 8, maxDf: Int = 20,
                  minShared: Int = 10): DataFrame = {
    val fp = docs.select(col(idCol).as("id"),
        explode(graft.functions.TextExpressions
          .winnowFingerprints(col(textCol), k, w)).as("f"))
      .select(col("id"), col("f.h").as("h")).distinct()
    val rare = fp.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("h")
    val fr = fp.join(rare, "h")
    fr.as("wa").join(fr.as("wb"),
        col("wa.h") === col("wb.h") && col("wa.id") < col("wb.id"))
      .groupBy(col("wa.id").as("d1"), col("wb.id").as("d2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }
}
