package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * The one candidate-verify step: every candidate edge is checked exactly
 * before connected components sees it. The near-dup verify
 * ([[NearDup.verifyCandidatesById]], Jaccard over shingle sets) and the
 * substring verify ([[Substring.verifiedSubstringPairs]], byte-equal shared
 * window) run through it and supply only their exact test.
 */
object PairVerify {

  /** Candidate-pair count at or under which the pair-member key set
   *  (≤ 2·pairs keys) broadcasts for the member semi-filter. Past it the
   *  key set is itself shuffle-sized and a shuffle-hash semi-join runs. */
  private val BroadcastMaxPairs = 5000000L

  /**
   * Fetch both members of every pair and keep what `exact` keeps. `pairs`
   * holds member keys in columns `a` and `b`; `members` is keyed by `key`.
   * The members are semi-filtered to the pairs' key set first, so only
   * candidate members' rows enter the joins, and each side joins once.
   * `exact` sees the pair columns plus every other member column `c` twice:
   * `a_c` for member `a`, `b_c` for member `b`.
   *
   * Persist scoping: the pairs are read twice (key set and joins) and are
   * persisted. With `register = None` the persist is scoped: the result is
   * materialized eagerly (localCheckpoint) and the cache released before
   * returning (PersistHygieneSpec). A caller managing its own stage
   * lifecycle passes `register = Some(f)`: the persist goes to `f`, the
   * returned plan stays lazy, and the caller unpersists.
   */
  private[graft] def verify(pairs0: DataFrame, a: String, b: String,
                            members: DataFrame, key: String,
                            register: Option[DataFrame => Unit],
                            maxBroadcastPairs: Long = BroadcastMaxPairs)
                           (exact: DataFrame => DataFrame): DataFrame = {
    val pairs = pairs0.persist(StorageLevel.MEMORY_AND_DISK)
    register.foreach(_(pairs))
    def body: DataFrame = {
      val keys = pairs.select(col(a).as(key)).union(pairs.select(col(b).as(key))).distinct()
      // the count is cheap: the pairs are persisted or a materialized stage
      val keysH = if (pairs.count() <= maxBroadcastPairs) broadcast(keys)
      else keys.hint("SHUFFLE_HASH")
      val m = members.join(keysH, Seq(key), "left_semi")
      // No join hint: AQE broadcasts a member side that fits the broadcast
      // threshold at runtime. A SHUFFLE_HASH hint forbids that, and measured
      // slower on both benchmark workloads (traced verify task_s, 3 seeds).
      def side(s: String, k: String): DataFrame =
        m.select(m.columns.map(c => col(c).as(if (c == key) k else s"${s}_$c")).toIndexedSeq: _*)
      exact(pairs.join(side("a", a), a).join(side("b", b), b))
    }
    if (register.isDefined) body
    else try body.localCheckpoint() finally pairs.unpersist(false)
  }
}
