package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.operators.{ExactDedup, Snapshots}

/** Validation truth table (transliterated from validation.rs:359-497 to the
 *  table model) + apply idempotency (README.md:108-113: a second apply is all
 *  no-ops). */
class SnapshotsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def edited(rows: (String, String, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("group_id", "rkey", "action", "symlink_source")
  }
  private def state(rows: (String, String, Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("rkey", "true_sha", "size", "points_to")
  }

  private def validateMap(e: DataFrame, s: DataFrame, allowFull: Boolean = false) =
    Snapshots.validateState(e, s, allowFull).collect()
      .map(r => r.getAs[String]("rkey") ->
        ((r.getAs[Boolean]("valid"), r.getAs[String]("error"), r.getAs[Boolean]("is_no_op")))).toMap

  test("truth table: missing path per action kind (validation.rs:99-104, 265-273, 296-302)") {
    val e = edited(
      ("h1", "a", "keep", null), ("h1", "b", "symlink", "a"), ("h1", "gone-del", "delete", null),
      ("h1", "gone-keep", "keep", null), ("h1", "gone-sym", "symlink", "a"))
    val s = state(("a", "h1", 3L, null), ("b", "h1", 3L, null))
    val v = validateMap(e, s)
    assert(v("gone-del") === ((true, null, true)))     // missing + delete = no-op
    assert(v("gone-keep") === ((false, "missing_path", false)))
    assert(v("gone-sym") === ((false, "missing_path", false)))
    assert(v("a") === ((true, null, false)))
    assert(v("b") === ((true, null, false)))           // pending symlink
  }

  test("truth table: checksum mismatch (validation.rs:70-81)") {
    val e = edited(("h1", "a", "keep", null), ("h1", "b", "delete", null))
    val s = state(("a", "h1", 3L, null), ("b", "OTHER", 3L, null))
    val v = validateMap(e, s)
    assert(v("a") === ((true, null, false)))
    assert(v("b") === ((false, "checksum_mismatch", false)))
  }

  test("truth table: all-delete group needs the explicit flag (validation.rs:56-67)") {
    val e = edited(("h1", "a", "delete", null), ("h1", "b", "delete", null))
    val s = state(("a", "h1", 3L, null), ("b", "h1", 3L, null))
    assert(validateMap(e, s).values.forall(_ == ((false, "no_keep_in_group", false))))
    assert(validateMap(e, s, allowFull = true).values.forall(_ == ((true, null, false))))
  }

  test("truth table: already-linked symlink is a valid no-op (validation.rs:237-242)") {
    val e = edited(("h1", "a", "keep", null), ("h1", "b", "symlink", "a"))
    val s = state(("a", "h1", 3L, null), ("b", "h1", 3L, "a"))
    val v = validateMap(e, s)
    assert(v("b") === ((true, null, true)))
  }

  test("truth table: explicit symlink source hash must match the group (validation.rs:196-204)") {
    val e = edited(
      ("h1", "a", "keep", null),
      ("h1", "b", "symlink", "x"),      // x exists but has hash h2
      ("h1", "c", "symlink", "ghost"))  // ghost doesn't exist
    val s = state(("a", "h1", 3L, null), ("b", "h1", 3L, null), ("c", "h1", 3L, null),
      ("x", "h2", 9L, null))
    val v = validateMap(e, s)
    assert(v("b") === ((false, "source_hash_mismatch", false)))
    assert(v("c") === ((false, "source_missing", false)))
  }

  test("truth table: source must not itself be a symlink (validation.rs:211-216)") {
    // keeper 'a' is already a redirect; both explicit and implicit symlink
    // rows pointing at it must fail
    val e = edited(
      ("h1", "a", "keep", null),
      ("h1", "b", "symlink", "a"),   // explicit
      ("h1", "c", "symlink", null))  // implicit (defaults to keeper a)
    val s = state(("a", "h1", 3L, "z"), ("b", "h1", 3L, null), ("c", "h1", 3L, null),
      ("z", "h1", 3L, null))
    val v = validateMap(e, s)
    assert(v("a") === ((false, "keep_on_symlink", false)))
    assert(v("b") === ((false, "source_is_symlink", false)))
    assert(v("c") === ((false, "source_is_symlink", false)))
  }

  test("truth table: existing link to a different source is OpNotAllowed; broken link re-links (validation.rs:220-256)") {
    val e = edited(
      ("h1", "a", "keep", null),
      ("h1", "b", "symlink", "a"),   // already points at a → no-op
      ("h1", "c", "symlink", "a"),   // points at z ≠ a → not allowed
      ("h1", "d", "symlink", "a"))   // points at a missing row → re-link
    val s = state(("a", "h1", 3L, null), ("b", "h1", 3L, "a"), ("c", "h1", 3L, "z"),
      ("d", "h1", 3L, "gone"), ("z", "h1", 3L, null))
    val v = validateMap(e, s)
    assert(v("b") === ((true, null, true)))
    assert(v("c") === ((false, "symlink_update_not_allowed", false)))
    assert(v("d") === ((true, null, false)))
  }

  test("truth table: group must have >= 2 paths (validation.rs:49-54)") {
    val e = edited(("h1", "a", "keep", null), ("h2", "x", "keep", null), ("h2", "y", "delete", null))
    val s = state(("a", "h1", 3L, null), ("x", "h2", 3L, null), ("y", "h2", 3L, null))
    val v = validateMap(e, s)
    assert(v("a") === ((false, "corrupt_snapshot", false)))
    assert(v("x") === ((true, null, false)))
  }

  test("truth table: allowFullDeletion accepts ONLY all-delete keeperless groups (validation.rs:56-67)") {
    // keeperless group with a symlink row: invalid even with the flag
    val e = edited(("h1", "a", "delete", null), ("h1", "b", "symlink", null))
    val s = state(("a", "h1", 3L, null), ("b", "h1", 3L, null))
    assert(validateMap(e, s, allowFull = true).values.toSet ===
      Set((false, "no_keep_in_group", false)))
  }

  test("backup + restore round-trips the pre-apply state byte-for-byte (fileutil.rs:136-150)") {
    val h = ExactDedup.withHashes(Corpus.synthetic(spark, 300, seed = 5L).toDF()).cache()
    val st = Snapshots.plantedState(h).cache()
    val v = Snapshots.validateState(Snapshots.editedSnapshot(h), st).cache()
    val backup = Snapshots.backupRows(v, st).cache()
    assert(backup.count() > 0, "apply must touch something")
    val applied = Snapshots.appliedState(v, st)
    val restored = Snapshots.restore(applied, backup)
    val want = st.collect().map(_.toString).sorted.toSeq
    val got = restored.collect().map(_.toString).sorted.toSeq
    assert(got === want)
  }

  test("skip_deduped drops fully-deduped groups after apply (snapshot/mod.rs:103-113)") {
    val h = ExactDedup.withHashes(Corpus.synthetic(spark, 300, seed = 5L).toDF()).cache()
    val st = Snapshots.plantedState(h)
    val v = Snapshots.validateState(Snapshots.editedSnapshot(h), st, allowFullDeletion = true)
    val applied = Snapshots.appliedState(v, st).cache()
    val all = Snapshots.snapshotFromState(applied).cache()
    val kept = Snapshots.snapshotFromState(applied, skipDeduped = true).cache()
    assert(all.count() > kept.count(), "some groups must now be fully deduped")
    // every surviving group is NOT in the deduped shape (one keep + symlinks)
    val byGroup = kept.collect().groupBy(_.getString(0))
    byGroup.values.foreach { rows =>
      val keeps = rows.count(_.getString(2) == "keep")
      assert(keeps != 1 || rows.length < 2,
        s"deduped-shaped group survived skipDeduped: ${rows.head.getString(0)}")
    }
  }

  test("dry-run announces every pending action incl. no-ops (executor.rs:53-94)") {
    val e = edited(
      ("h1", "a", "keep", null), ("h1", "b", "symlink", "a"),
      ("h1", "gone", "delete", null))
    val s = state(("a", "h1", 3L, null), ("b", "h1", 3L, null))
    val notes = Snapshots.dryRun(Snapshots.validateState(e, s))
      .collect().map(r => r.getAs[String]("rkey") -> r.getAs[String]("note")).toMap
    assert(notes("b") === "[DRY RUN] File to be replaced with symlink: b -> a")
    assert(notes("gone") === "[DRY RUN][NO-OP] File to be deleted: gone")
    // includeNoOp surface on pendingStats (executor.rs:140-154)
    val v = Snapshots.validateState(e, s)
    assert(Snapshots.pendingStats(v, includeNoOp = false).head().getLong(0) === 1L)
    assert(Snapshots.pendingStats(v, includeNoOp = true).head().getLong(0) === 2L)
  }

  test("apply is idempotent: second validate against applied state has zero pending") {
    val h = ExactDedup.withHashes(Corpus.synthetic(spark, 300, seed = 5L).toDF()).cache()
    val e = Snapshots.editedSnapshot(h).cache()
    val v1 = Snapshots.validate(e, h)
    val p1 = Snapshots.pendingStats(v1).head()
    assert(p1.getLong(0) > 0, "first round must have pending actions")

    val s2 = Snapshots.appliedState(v1, Snapshots.currentState(h))
    val v2 = Snapshots.validateState(e, s2)
    val p2 = Snapshots.pendingStats(v2).head()
    assert(p2.getLong(0) === 0L, "second round must be all no-ops")
    assert(p2.getLong(1) === 0L)
  }

  test("humanBytes renders each tier with truncated two-decimal precision") {
    import spark.implicits._
    val got = Seq(0L, 912L, 1024L, 1456L, 1048576L, 1536000L,
        1073741824L, 1099511627776L, 1209462790553L)
      .toDF("b").select(Snapshots.humanBytes(col("b"))).as[String].collect().toSeq
    // 1456/1024 = 1.421875 → truncates to 1.42; 1536000/2^20 = 1.46484 → 1.46;
    // 1209462790553/2^40 = 1.099999945 → truncates to 1.09 (not rounds to 1.10)
    assert(got === Seq("0 B", "912 B", "1.00 KiB", "1.42 KiB", "1.00 MiB",
      "1.46 MiB", "1.00 GiB", "1.00 TiB", "1.09 TiB"))
  }

  test("apply excludes invalid groups whole and drops only valid deletes") {
    val h = ExactDedup.withHashes(Corpus.synthetic(spark, 300, seed = 5L).toDF()).cache()
    val v = Snapshots.validate(Snapshots.editedSnapshot(h), h).cache()
    val applied = Snapshots.applyActions(v, h).cache()
    val badGroups = v.where(!col("valid")).select("group_id").distinct()
      .collect().map(_.getString(0)).toSet
    val deleted = v.where(col("valid") && col("action") === "delete" && !col("is_no_op"))
      .collect().filterNot(r => badGroups.contains(r.getAs[String]("group_id")))
      .map(_.getAs[String]("rkey")).toSet
    val appliedKeys = applied.collect().map(_.getString(0)).toSet
    assert(deleted.intersect(appliedKeys).isEmpty, "valid deletes must be dropped")
    assert(appliedKeys.size === h.count() - deleted.size)
    // redirected rows point at their keeper
    applied.where(col("status") === "redirected").collect()
      .foreach(r => assert(r.getString(2) != null))
  }
}
