package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.HexCase

/**
 * Stage 5 — snapshot validation + apply: the Spark analog of the reference's
 * `validate` and `apply` commands (SURVEY.md §3.2/§3.3).
 *
 * The reference re-parses a user-edited snapshot and checks every action
 * against the live filesystem (validation.rs:305-335), then executes
 * keep/symlink/delete effects (executor.rs:96-137). In the table model:
 *
 *  - "live filesystem"  = the current-state view `(rkey, true_sha, size,
 *                         points_to)`; `points_to` non-null means the row is
 *                         already a redirect (≙ an existing symlink,
 *                         snapshot/mod.rs:56-67);
 *  - "checksum check"   = sha256(current content) == snapshot group id
 *                         (validation.rs:70-81);
 *  - "apply"            = a transactional rewrite of the canonical table —
 *                         deletes dropped, symlinks rewritten as pointers to
 *                         the intended source; prior versions retained via
 *                         [[backupRows]] (backup semantics,
 *                         fileutil.rs:136-150).
 *
 * Full truth table implemented by [[validateState]] (reference branch →
 * error code):
 *
 *  | reference                                             | here |
 *  |-------------------------------------------------------|------|
 *  | group has < 2 paths (validation.rs:49-54)             | `corrupt_snapshot` |
 *  | no keep, not (all-delete ∧ flag) (validation.rs:56-67)| `no_keep_in_group` |
 *  | keep on a symlink (validation.rs:88-93)               | `keep_on_symlink` |
 *  | keep/symlink/delete hash mismatch (validation.rs:70-81)| `checksum_mismatch` |
 *  | keep/symlink on missing path (validation.rs:99-104, 265-273) | `missing_path` |
 *  | explicit source unreadable (validation.rs:124-141 Io) | `source_missing` |
 *  | explicit source hash ≠ group (validation.rs:196-204)  | `source_hash_mismatch` |
 *  | source is itself a symlink (validation.rs:211-216)    | `source_is_symlink` |
 *  | linked to a different source (validation.rs:220-249)  | `symlink_update_not_allowed` |
 *  | linked to intended source (validation.rs:237-242)     | valid, `is_no_op` |
 *  | broken existing link (validation.rs:251-256)          | valid re-link |
 *  | delete on missing path (validation.rs:296-302)        | valid no-op delete |
 *
 * Deviation (documented, strictly more informative): the reference aborts on
 * the first violation (validation.rs:350-353); we mark every row
 * valid/invalid with an error code and exclude *whole groups* containing any
 * invalid row from apply — same accept/reject decision per group, full
 * violation report instead of one error. That exclusion is spelled once, in
 * `pending`, and every apply-side output ([[appliedState]],
 * [[applyActions]], [[backupRows]], [[pendingStats]], [[dryRun]]) reads
 * those rows. Path-normalization branches
 * (within_rootdir, relative sources) are mapped away: row keys are canonical
 * (SURVEY.md §2.2), so `verify_symlink_source_path` reduces to direct key
 * equality. Two further mapped-away branches, for completeness:
 * `validate_rootdir` (validation.rs:29-41 — rootdir exists / is a directory
 * / metadata readable) has no table analog because there IS no rootdir: the
 * current-state view is itself the authority, and a missing/unreadable
 * "filesystem" is a missing input table, surfaced by the engine before any
 * row logic runs. And the fail-fast-vs-collect-all choice above is the
 * whole of the reference's error-propagation structure (`?` early returns
 * throughout validation.rs) — there is no separately-mapped "abort" state;
 * group-level exclusion is its complete analog.
 */
object Snapshots {

  /** Donor keys for planted wrong-source cases: the two lexicographically
   *  smallest rkeys belonging to two different groups — `donor(g)` (= d1
   *  unless g IS d1's group, else d2) is an existing row whose sha provably
   *  differs from g. One aggregate: the two smallest per-group minimum rkeys
   *  reduced to one broadcastable row; `d2_rkey` is null with one group. */
  private def donors(hashed: DataFrame): DataFrame =
    hashed.groupBy("group_id").agg(min(col("rkey")).as("rkey"))
      .orderBy("rkey", "group_id").limit(2)
      .agg(min(struct(col("rkey"), col("group_id"))).as("d1"),
        when(count(lit(1)) === 2, max(col("rkey"))).as("d2_rkey"))
      .select(col("d1.rkey").as("d1_rkey"), col("d1.group_id").as("d1_gid"), col("d2_rkey"))

  private def donorCol: Column =
    when(col("group_id") === col("d1_gid"), col("d2_rkey")).otherwise(col("d1_rkey"))

  /** Both fixtures' frame: each row with its group's `keeper`, `maxk` (min,
   *  max rkey) and size `nm` — one window — and the [[donors]] row. */
  private def fixtureFrame(hashed: DataFrame): DataFrame = {
    val w = Window.partitionBy("group_id")
    hashed
      .withColumn("keeper", min(col("rkey")).over(w))
      .withColumn("maxk", max(col("rkey")).over(w))
      .withColumn("nm", count(lit(1)).over(w))
      .crossJoin(broadcast(donors(hashed)))
  }

  private val hexCase: Column = substring(col("group_id"), 1, 1) // the fixtures' case key

  /**
   * Deterministic "user-edited" snapshot derived from the default snapshot,
   * with planted violations keyed off the first hex char `c` of the group id
   * (the reference's validation test matrix, validation.rs:359-497 +
   * executor.rs:203-230, transliterated to the table model). Paired with
   * [[plantedState]], every branch of the truth table fires:
   *
   *  - c='0' → group trimmed to the keeper only      ⇒ corrupt_snapshot
   *  - c='1' → non-keepers delete                    ⇒ valid deletes
   *  - c='2' → symlink, explicit WRONG source (donor)⇒ source_hash_mismatch
   *  - c='3' → symlink, explicit MISSING source      ⇒ source_missing
   *  - c='4' → keep on rows the state says are redirected ⇒ keep_on_symlink
   *  - c='5' → symlink, state already points at keeper ⇒ valid no-op
   *  - c='6' → symlink, state points at a DIFFERENT source ⇒ symlink_update_not_allowed
   *  - c='7' → keeper itself is redirected in state  ⇒ keep_on_symlink (keeper)
   *            + source_is_symlink (members)
   *  - c='8'/'9' → symlink, explicit correct source  ⇒ valid
   *  - c='a'/'b' → symlink, implicit (default keeper)⇒ valid
   *  - c='c' → state has a BROKEN redirect           ⇒ valid re-link
   *  - c='d' → group id corrupted (uppercased)       ⇒ checksum_mismatch
   *  - c='e' → extra ghost member marked delete      ⇒ no-op delete
   *  - c='f' → all delete (2nd char ≤ '7'), or all delete + one symlink
   *            ⇒ no_keep_in_group unless allowFullDeletion ∧ all-delete
   *
   * The 'd' corruption uppercases the hex id with [[HexCase.upper]], an
   * ASCII `translate`: Spark's `upper` would run ICU case mapping, whose
   * first use in a JVM costs a ~2 s class initialisation on the review path.
   *
   * Output: `(group_id, rkey, action, symlink_source)`.
   */
  def editedSnapshot(hashed: DataFrame): DataFrame = {
    val snap = fixtureFrame(hashed).where(col("nm") > 1)
    val c = hexCase
    val c2 = substring(col("group_id"), 2, 1)
    val isK = col("rkey") === col("keeper")
    val act = when(c === "f",
        when(c2 <= "7", lit("delete"))
          .when(col("rkey") === col("maxk"), lit("symlink"))
          .otherwise(lit("delete")))
      .when(isK, lit("keep"))
      .when(c === "1", lit("delete"))
      .when(c === "4", lit("keep"))
      .otherwise(lit("symlink"))
    val src = when(act =!= "symlink", lit(null).cast("string"))
      .when(c === "2", donorCol)
      .when(c === "3", concat(col("keeper"), lit(".ghost")))
      .when(c.isin("8", "9", "d", "e"), col("keeper"))
      .otherwise(lit(null).cast("string")) // implicit: 5,6,7,a,b,c and f's symlink
    val base = snap
      .where(!(c === "0" && !isK))
      .select(
        when(c === "d", HexCase.upper(col("group_id"))).otherwise(col("group_id")).as("group_id"),
        col("rkey"), act.as("action"), src.as("symlink_source"))
    val ghosts = snap.where(c === "e" && isK)
      .select(col("group_id"),
        concat(col("keeper"), lit(".ghost")).as("rkey"),
        lit("delete").as("action"),
        lit(null).cast("string").as("symlink_source"))
    base.unionAll(ghosts)
  }

  /** The fresh "live filesystem" view: `(rkey, true_sha, size, points_to)` —
   *  no redirects yet (a never-deduped corpus). */
  def currentState(hashed: DataFrame): DataFrame =
    hashed.select(col("rkey"), col("group_id").as("true_sha"), col("size"))
      .withColumn("points_to", lit(null).cast("string"))

  /** Current state with planted redirects matching [[editedSnapshot]]'s
   *  matrix (cases '4'-'7' and 'c' need pre-existing symlinks). */
  def plantedState(hashed: DataFrame): DataFrame = {
    val c = hexCase
    val isK = col("rkey") === col("keeper")
    val pts = when(col("nm") > 1,
      when((c === "4" || c === "5") && !isK, col("keeper"))
        .when(c === "6" && !isK, donorCol)
        .when(c === "7" && isK, donorCol)
        .when(c === "c" && !isK, concat(col("rkey"), lit(".broken"))))
    fixtureFrame(hashed).select(col("rkey"), col("group_id").as("true_sha"), col("size"),
      pts.as("points_to"))
  }

  /** J1 validation against the fresh corpus state. */
  def validate(edited: DataFrame, hashed: DataFrame,
               allowFullDeletion: Boolean = false): DataFrame =
    validateState(edited, currentState(hashed), allowFullDeletion)

  /**
   * The full validation truth table (see class doc) against an explicit
   * current state. Output: `(group_id, rkey, action, symlink_source, src,
   * is_explicit, size, valid, error, is_no_op)`; `src` is the resolved
   * intended source (explicit or default keeper — executor.rs:11-24 Action
   * parity), `size` is null for rows absent from the state.
   */
  def validateState(edited: DataFrame, state: DataFrame,
                    allowFullDeletion: Boolean = false): DataFrame = {
    val g = edited.groupBy("group_id").agg(
      count(lit(1)).as("n_rows"),
      max(when(col("action") === "keep", 1).otherwise(0)).as("has_keep"),
      min(when(col("action") === "delete", 1).otherwise(0)).as("all_delete"),
      min(when(col("action") === "keep", col("rkey"))).as("keeper"))
    val stSrc = state.select(col("rkey").as("_src_key"),
      col("true_sha").as("src_sha"), col("points_to").as("src_points_to"))
    val stPt = state.select(col("rkey").as("_pt_key"), lit(true).as("pt_exists"))

    val j = edited
      .join(state, Seq("rkey"), "left_outer")
      .join(g, Seq("group_id"))
      .withColumn("is_explicit", col("symlink_source").isNotNull)
      .withColumn("src",
        when(col("action") === "symlink", coalesce(col("symlink_source"), col("keeper"))))
      .join(stSrc, col("src") === col("_src_key"), "left_outer")
      .join(stPt, col("points_to") === col("_pt_key"), "left_outer")

    val ex = col("true_sha").isNotNull
    val shaOk = col("true_sha") === col("group_id")
    val ptEx = coalesce(col("pt_exists"), lit(false))
    // Group-level errors take precedence (the reference runs validate_group
    // before any per-row check, validation.rs:344-347); within a row the
    // check order mirrors the reference dispatch.
    val groupErr = when(col("n_rows") <= 1, lit("corrupt_snapshot"))
      .when(col("has_keep") === 0 &&
        !(lit(allowFullDeletion) && col("all_delete") === 1), lit("no_keep_in_group"))
    val rowErr = when(col("action") === "keep",
        when(!ex, lit("missing_path"))
          .when(col("points_to").isNotNull, lit("keep_on_symlink"))
          .when(!shaOk, lit("checksum_mismatch")))
      .when(col("action") === "symlink",
        when(!ex, lit("missing_path"))
          .when(!shaOk, lit("checksum_mismatch"))
          .when(col("is_explicit") && col("src_sha").isNull, lit("source_missing"))
          .when(col("is_explicit") && col("src_sha") =!= col("group_id"), lit("source_hash_mismatch"))
          .when(col("src_points_to").isNotNull, lit("source_is_symlink"))
          .when(col("points_to").isNotNull && ptEx && col("points_to") =!= col("src"),
            lit("symlink_update_not_allowed")))
      .when(col("action") === "delete",
        when(ex && !shaOk, lit("checksum_mismatch")))
    val err = coalesce(groupErr, rowErr)
    val noOp = (col("action") === "delete" && !ex) ||
      (col("action") === "symlink" && err.isNull &&
        col("points_to").isNotNull && ptEx && col("points_to") === col("src"))
    j.select(
      col("group_id"), col("rkey"), col("action"), col("symlink_source"),
      col("src"), col("is_explicit"), col("size"),
      err.isNull.as("valid"), err.as("error"), noOp.as("is_no_op"))
  }

  /** The rows apply acts on: valid, not `keep`, in a group with no invalid
   *  row. The one group-exclusion rule every apply-side output reads. */
  private def pending(validated: DataFrame): DataFrame =
    validated
      .withColumn("_bad",
        max(when(col("valid"), 0).otherwise(1)).over(Window.partitionBy("group_id")))
      .where(col("valid") && col("_bad") === 0 && col("action") =!= "keep")
      .drop("_bad")

  /**
   * Apply: rewrite the canonical table. Rows of invalid groups stay `kept`
   * (reference semantics: a failed validation applies nothing); valid deletes
   * drop the row; valid symlinks become `redirected` pointer rows aimed at
   * the resolved intended source. Output: `(rkey, status ∈ {kept,
   * redirected}, points_to)` — [[appliedState]] over the fresh state, which
   * has no redirects of its own.
   */
  def applyActions(validated: DataFrame, hashed: DataFrame): DataFrame =
    appliedState(validated, currentState(hashed))
      .select(col("rkey"),
        when(col("points_to").isNotNull, lit("redirected")).otherwise(lit("kept")).as("status"),
        col("points_to"))

  /** Post-apply current state: deletes gone, redirects carry `points_to`
   *  (pre-existing redirects of untouched rows preserved) — feed back into
   *  [[validateState]] / [[snapshotFromState]] for incremental runs. */
  def appliedState(validated: DataFrame, state: DataFrame): DataFrame =
    state
      .join(pending(validated).select("rkey", "action", "src"), Seq("rkey"), "left_outer")
      .where(col("action").isNull || col("action") =!= "delete")
      .select(col("rkey"), col("true_sha"), col("size"),
        when(col("action") === "symlink", col("src")).otherwise(col("points_to")).as("points_to"))

  /**
   * S6 backup sink (fileutil.rs:136-150, main.rs:163-169): the pre-image
   * state rows of every row apply will touch (the non-no-op `pending` rows)
   * — written before the rewrite, so the reference's
   * "never destroy data without a backup" invariant holds. [[restore]] is the
   * round-trip.
   */
  def backupRows(validated: DataFrame, state: DataFrame): DataFrame =
    state.join(pending(validated).where(!col("is_no_op")).select("rkey"), Seq("rkey"), "left_semi")

  /** Undo an apply: deleted rows come back from the backup, modified rows
   *  take their backed-up pre-image. `restore(appliedState(v, s),
   *  backupRows(v, s)) == s` row-for-row. */
  def restore(postState: DataFrame, backup: DataFrame): DataFrame =
    postState.join(backup.select("rkey"), Seq("rkey"), "left_anti")
      .unionByName(backup)

  /**
   * P6 + P7: rebuild the duplicate snapshot FROM a state view (the
   * incremental `find` over an already-partially-deduped corpus,
   * snapshot/mod.rs:122-147): action reflects the live state (existing
   * redirect → symlink, else keep — FilePath::new, snapshot/mod.rs:56-67),
   * and `skipDeduped` drops groups already fully deduped (exactly one keep,
   * rest symlinks — is_group_deduped, snapshot/mod.rs:103-113), the
   * reference's whole incremental story (README.md:339-368).
   * Output: `(group_id, rkey, action, points_to, n_members)`.
   */
  def snapshotFromState(state: DataFrame, skipDeduped: Boolean = false): DataFrame = {
    val w = Window.partitionBy("true_sha")
    val st = state
      .withColumn("action",
        when(col("points_to").isNotNull, lit("symlink")).otherwise(lit("keep")))
      .withColumn("n_members", count(lit(1)).over(w))
      .withColumn("n_keep", sum(when(col("action") === "keep", 1).otherwise(0)).over(w))
    st.where(col("n_members") > 1)
      .where(if (skipDeduped) col("n_keep") =!= 1 else lit(true))
      .select(col("true_sha").as("group_id"), col("rkey"), col("action"),
        col("points_to"), col("n_members"))
  }

  /**
   * F8 — human-readable byte size (the reference logs freeable space through
   * the `size` crate: snapshot/mod.rs:161, executor.rs:161). Integer-exact
   * base-1024 rendering — "912 B", "1.42 KiB" — with two *truncated*
   * decimals: every step is integer arithmetic (`shiftright` by 10·k bits,
   * then div/mod 100 on a value < 102400), so the ANSI-SQL oracle reproduces
   * it bit-for-bit with `//`/`%` — no floating-point formatting on either
   * side. Exact for inputs below 2⁶³/100 ≈ 92 PB.
   */
  def humanBytes(c: Column): Column = {
    def fmt(k: Int, unit: String): Column = {
      val v100 = shiftright(c * 100, 10 * k) // < 102400 under the tier guard
      concat(floor(v100 / 100).cast("long").cast("string"), lit("."),
        lpad(pmod(v100, lit(100)).cast("string"), 2, "0"), lit(" " + unit))
    }
    when(c < 1024L, concat(c.cast("string"), lit(" B")))
      .when(c < 1024L * 1024, fmt(1, "KiB"))
      .when(c < 1024L * 1024 * 1024, fmt(2, "MiB"))
      .when(c < 1024L * 1024 * 1024 * 1024, fmt(3, "GiB"))
      .otherwise(fmt(4, "TiB"))
  }

  /** A8/A9 (executor.rs:140-162): pending-action count + freeable bytes —
   *  valid, non-keep actions in fully-valid groups; no-ops excluded unless
   *  `includeNoOp` (executor.rs:140-154), and always free 0 bytes
   *  (executor.rs:27-51). `freeable_human` is the F8 log rendering. */
  def pendingStats(validated: DataFrame, includeNoOp: Boolean = false): DataFrame =
    pending(validated)
      .where(lit(includeNoOp) || !col("is_no_op"))
      .agg(count(lit(1)).as("n_pending"),
        coalesce(sum(when(!col("is_no_op"), col("size")).otherwise(0L)), lit(0L))
          .as("freeable_bytes"))
      .withColumn("freeable_human", humanBytes(col("freeable_bytes")))

  /**
   * Dry-run view (executor.rs:53-94, invoked executor.rs:190-193 with
   * include_no_op = true): one row per pending action with the reference's
   * announcement line. Output: `(rkey, action, src, is_no_op, note)`.
   */
  def dryRun(validated: DataFrame): DataFrame =
    pending(validated)
      .select(col("rkey"), col("action"), col("src"), col("is_no_op"),
        concat(
          lit("[DRY RUN]"),
          when(col("is_no_op"), lit("[NO-OP]")).otherwise(lit("")),
          when(col("action") === "symlink",
            concat(lit(" File to be replaced with symlink: "), col("rkey"),
              lit(" -> "), col("src")))
            .otherwise(concat(lit(" File to be deleted: "), col("rkey"))))
          .as("note"))
}
