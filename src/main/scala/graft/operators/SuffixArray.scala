package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Distributed prefix-doubling suffix pass — the TRUE suffix-array-family
 * implementation of the north_star's "distributed suffix-array pass for long
 * exact substrings" (the rolling-fingerprint path in [[Substring]] is the
 * sampled/hashed scale variant; this one is EXACT, no hash anywhere in the
 * pair decision).
 *
 * Classic prefix doubling (Manber–Myers; distributed form as in the
 * MapReduce/Spark SA literature surveyed in PAPERS.md) ranks suffixes by
 * their first k characters and doubles k each round:
 * `class_2k(i) = (class_k(i), class_k(i+k))`. Two deliberate deviations,
 * both *reductions* of work, neither of exactness:
 *
 *  - **Equivalence classes, not lexicographic ranks.** Dup detection needs
 *    "which suffixes agree on their first w chars", never the sorted order,
 *    so class ids only need to be distinct per class and stable — the class
 *    id is `min(suffix_id)` over the class (a `groupBy().min()` + join
 *    back), which removes the global sort/dense-rank pass entirely. Every
 *    round is therefore two narrow long-keyed shuffles (class agg + the
 *    pos+k lookup self-join), identical in shape at any corpus size.
 *  - **Stop at depth w, overlap-combine.** Doubling runs while 2k < w; the
 *    final window-of-w equality is the standard overlapping-windows trick
 *    (as in sparse-table RMQ): first-w equality ⟺ `class_k(i) = class_k(j)
 *    ∧ class_k(i+w−k) = class_k(j+w−k)` for any k ≥ w/2. Rounds are
 *    ⌈log₂(w/c0)⌉ — one doubling round at the default w=48 (c0 = w/4; see
 *    the seed-width note in [[windowClassPairs]]) — not log of corpus
 *    length.
 *
 * Scale shape: the suffix table is one row per character position —
 * O(total content bytes) rows of `(doc, pos, sid, class)` longs. That IS
 * the cost of an exact suffix structure; at 10⁹-file scale this pass runs
 * on content-distinct representatives (like every similarity projection
 * here) and remains a sequence of long-keyed hash shuffles with no
 * driver-side state. Hot equivalence classes (boilerplate windows) are
 * capped + REPORTED at pair emission exactly like the LSH/gram buckets.
 *
 * Exactness: class ids derive only from character equality (the round-0
 * class is the literal c0-char prefix), so two positions share a final
 * class IFF their w-char windows are byte-identical — no verification pass
 * is needed; a pair emitted here is already a true shared-window pair
 * (SuffixArraySpec asserts set-equality against the byte-verified rolling
 * path on the planted fixtures).
 */
object SuffixArray {

  /**
   * Exact doc pairs sharing at least one identical `w`-char window:
   * `(a_key, b_key)` with `a_key < b_key`, both 64-bit doc ids.
   *
   * @param docs `(id: Long, content: String)` — content-distinct docs keyed
   *             by the pipeline's 64-bit node ids
   * @param cap  per-class skew cap (a boilerplate window shared by more
   *             than `cap` docs is dropped from pair generation and
   *             reported through `onDrop` — north_rule)
   */
  def windowClassPairs(docs: DataFrame, w: Int, cap: Int,
                       onDrop: Long => Unit = _ => ()): DataFrame = {
    // Round-0 seed width: the largest literal-prefix seed that still leaves
    // a genuine doubling round (c0 = w/4 doubles once to w/2, the combine
    // minimum). Round 0 is ONE string-keyed window where a doubling round
    // costs two full-table exchanges — so seeding wider is strictly fewer
    // passes at any corpus size (guide §1.2 step 1 / §2.4); floor 8 keeps
    // tiny widths on the former behavior.
    val c0 = math.min(math.max(8, w / 4), w)

    // Suffix table over ALL positions (not just window starts): the pos+k
    // lookups of later rounds reach up to len-1, and a pruned row there
    // would split a genuinely-equal class (false negative). `sid` is any
    // unique-per-suffix long — class ids are min(sid), used only within
    // this computation, never in the output.
    val suffixes0 = docs
      .select(col("id"), col("content"), length(col("content")).as("len"))
      .where(col("len") >= w)
      .select(col("id"), col("len"), col("content"),
        explode(sequence(lit(0), col("len") - 1)).as("pos"))
      .select(col("id"), col("pos"), (col("pos") + w <= col("len")).as("window_start"),
        substring(col("content"), col("pos") + 1, lit(c0)).as("key0"))
      .withColumn("sid", monotonically_increasing_id())

    // Round 0: classes = the literal c0-char prefix (string key shuffles
    // ONCE; every later round shuffles only longs). `min(sid) OVER
    // (PARTITION BY key0)` assigns the class id in the same exchange that
    // groups the class — the former groupBy + join-back spelling paid a
    // second full-table exchange for identical ids (round 6, guide §2.4).
    var sfx = suffixes0
      .withColumn("cid", min(col("sid")).over(Window.partitionBy("key0")))
      .select(col("id"), col("pos"), col("window_start"), col("sid"), col("cid"))
    var k = c0
    while (2 * k < w) {
      sfx = refineClasses(sfx, k)
      k *= 2
    }

    // Overlap combine: first-w equality = (class_k at i, class_k at i+w−k).
    // k ≥ w/2 by the loop bound, so the two windows cover [i, i+w). The
    // pos+(w−k) lookup is `lead` over the per-doc position order — positions
    // are contiguous [0, len), so lead(w−k) IS the row at pos+(w−k), and a
    // window_start row always has one (pos+w ≤ len ⇒ pos+(w−k) ≤ len−k).
    // The former self-join spelling shuffled the full position table twice
    // per lookup; with lead + the window-min rounds the whole pass is one
    // linear plan (no per-round localCheckpoint jobs — lineage grows by two
    // window nodes per round, not exponentially like the join form).
    val windows = sfx
      .withColumn("cid2", lead(col("cid"), w - k).over(
        Window.partitionBy("id").orderBy("pos")))
      .where(col("window_start"))
      .select(col("cid"), col("cid2"), col("id"))
      .distinct() // many positions of one doc may share a window class

    // Pair emission: the same run-scan operator (one exchange, in-stream
    // cap) as the LSH/gram stages; the class key (cid, cid2) is compared
    // structurally — still no hashing in the decision path.
    graft.functions.BucketScan.bucketPairs(windows, Seq("cid", "cid2"), "id", cap, onDrop)
      .distinct()
  }

  /** One doubling round: `class_2k(i) = (class_k(i), class_k(i+k))`, new
   *  ids = min(sid) per composite class. A suffix with no row at pos+k
   *  (shorter than k+|rest|) keeps class2 = −1 — the standard
   *  "virtual end-of-string sentinel" branch.
   *
   *  Round 6 shape: the pos+k lookup is `lead(cid, k)` over the per-doc
   *  position order (positions are contiguous, so the row k places later IS
   *  pos+k; null past the end → the −1 sentinel), and the new class id is
   *  `min(sid)` as a window over the composite key — two exchanges per round
   *  (id, then (cid, cid2)) where the join spelling paid four plus an
   *  aggregation (guide §2.4: same keys, one exchange). */
  private def refineClasses(sfx: DataFrame, k: Int): DataFrame = {
    sfx
      .withColumn("cid2", coalesce(
        lead(col("cid"), k).over(Window.partitionBy("id").orderBy("pos")), lit(-1L)))
      .withColumn("cid", min(col("sid")).over(Window.partitionBy("cid", "cid2")))
      .select(col("id"), col("pos"), col("window_start"), col("sid"), col("cid"))
  }
}
