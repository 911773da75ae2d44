package graft.functions

import org.apache.spark.sql.DataFrame

/** Session-scoped memo of derived-index artifacts keyed on (tag,
  * session, input plan, params) — the in-session form of "compute the
  * signature / pair / bucket / codebook index ONCE per corpus". At
  * 100 TB these indexes are persisted at ingest (DESIGN.md);
  * in-session, any two operators deriving the same index from the
  * same input plan (`sameResult`) share one localCheckpointed
  * materialization.
  *
  * Entries hold checkpointed frames (or small tuples of them — e.g. a
  * PQ codebook + code table). Most are bounded relative to the corpus
  * (pair graphs, label maps, id+bucket tables, k×dims centroid
  * tables); the n-gram POSTING table is the deliberate exception —
  * corpus-scale, admitted because its cross-query sharing is the
  * point and MEMORY_AND_DISK-backed like the per-query persist it
  * replaced. The list is capped, and a plan mismatch or new session
  * just recomputes — the memo is an optimization, never a correctness
  * dependency.
  *
  * Lifetime: eviction (`take(cap)`) drops the REFERENCE only; the
  * checkpoint blocks are freed lazily by GC + ContextCleaner once no
  * caller plan holds the frame. Proactive unpersist-on-evict would be
  * UNSAFE — a localCheckpointed RDD cannot be recomputed, so freeing
  * blocks under a still-referenced plan turns eviction into a query
  * failure. The bounded-session contract (a bench/verify run, then
  * the JVM exits) is what makes lazy reclamation acceptable; a
  * long-lived serving session should persist indexes at ingest
  * (DESIGN.md) rather than lean on this memo.
  */
private[graft] object IndexMemo {
  private var entries: List[((String, Any), org.apache.spark.sql.SparkSession,
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Any)] = Nil

  /** Observable for the sharing specs: total memo hits this JVM. */
  @volatile var hits: Long = 0L

  /** Observable: entries dropped by the cap this JVM. A non-zero value
    * in a bench run means the suite now trains more artifacts than the
    * cap holds and LATER queries silently re-train — the regression
    * class the r14 16→64 bump fixed; Bench records it per run. */
  @volatile var evictions: Long = 0L

  /** Per-tag hit counts — lets a spec assert that one index family
    * missed the memo (e.g. a re-banded pair graph) while another
    * legitimately hit (the band-independent posting table). */
  private val tagHits = scala.collection.mutable.Map.empty[String, Long]
  def hitsFor(tag: String): Long = synchronized { tagHits.getOrElse(tag, 0L) }

  /** Per-tag BUILD seconds (compute-path wall time, misses only) —
    * r19, VERDICT r18 #7: the suite's shared cold-training cost lands
    * on whichever gated query runs first, which makes per-query
    * round-over-round attribution noisy. The bench emits this map so
    * the artifact itemizes training cost separately from serve cost.
    * Under concurrent trainings (the recall harness) entries OVERLAP
    * in wall time — the map attributes, it does not sum to wall. */
  private val tagBuildSecs = scala.collection.mutable.Map.empty[String, Double]
  def buildSecs: Map[String, Double] = synchronized { tagBuildSecs.toMap }

  /** Per-(tag, params, session, plan-semantic-hash) compute locks: two
    * threads deriving DIFFERENT indexes proceed concurrently (the old
    * single global lock held across `compute` serialized every memo
    * consumer behind the longest training job), and — since the
    * session and the input plan's canonical hash are part of the key —
    * so do two builds of the SAME index family over different corpora
    * or sessions; only threads racing one (corpus, params) index
    * serialize, so it trains once. A semantic-hash collision merely
    * over-serializes two unrelated builds — never a correctness issue.
    * Nested `of` calls only ever go from an outer index to a strictly
    * finer one (pairs -> postings), never back,
    * so the lock graph is acyclic — no deadlock. Both monitors are
    * reentrant for the self-nested case. Lock entries of stopped
    * sessions are pruned alongside the entry sweep in `lookup`, and
    * the map itself is capped (insertion-order eviction, like the
    * 16-entry memo list) so a long-lived session feeding fresh plans
    * per micro-batch — each localCheckpoint is a new semanticHash —
    * cannot grow it without bound. Evicting a lock is always safe:
    * the object stays valid for any residual holder (only the map
    * reference drops), and a thread that re-creates the key races at
    * worst into a duplicate compute of one deterministic index — the
    * memo is an optimization, never a correctness dependency. */
  private[graft] val lockCap = 64
  private val keyLocks = scala.collection.mutable.LinkedHashMap.empty[
    (String, Any, org.apache.spark.sql.SparkSession, Int), Object]

  /** Observable for the lock-hygiene spec. */
  private[graft] def lockCount: Int = synchronized { keyLocks.size }

  /** Generic form: memoize any artifact derived from `input` — used
    * for multi-frame index bundles (codes + centroids). The cached
    * value must be fully materialized (checkpointed frames / collected
    * rules), never a lazy plan over unpersisted state. */
  def of[T](tag: String, input: DataFrame, params: Any)
           (compute: => T): T = {
    val sess = input.sparkSession
    val plan = input.queryExecution.analyzed
    val key = (tag, params)
    def lookup(): Option[T] = synchronized {
      // entries of stopped sessions can never hit again (the session
      // identity check fails) but their plans/frames would pin memory
      // and crowd the cap for the session's whole JVM — drop them now,
      // and their lock objects with them (same unbounded-growth risk).
      entries = entries.filter { case (_, s2, _, _) => !s2.sparkContext.isStopped }
      keyLocks.filterInPlace { case ((_, _, s2, _), _) => !s2.sparkContext.isStopped }
      entries.find { case (k2, s2, p2, _) =>
        k2 == key && (s2 eq sess) && p2.sameResult(plan)
      }.map { case e @ (_, _, _, cached) =>
        hits += 1
        tagHits(tag) = tagHits.getOrElse(tag, 0L) + 1
        // LRU: move-to-front on hit, so the cap evicts the
        // least-recently-USED entry rather than the oldest-inserted —
        // a long multi-corpus session keeps its hot indexes resident
        // instead of thrashing on insertion order.
        entries = e :: entries.filterNot(_ eq e)
        cached.asInstanceOf[T]
      }
    }
    val lock = synchronized {
      val k = (tag, params, sess, plan.semanticHash())
      // Move-to-back on reuse so the cap evicts the LEAST-recently
      // requested keys, keeping the hot per-corpus locks resident.
      val l = keyLocks.remove(k).getOrElse(new Object)
      keyLocks.put(k, l)
      while (keyLocks.size > lockCap) keyLocks.remove(keyLocks.head._1)
      l
    }
    lock.synchronized {
      lookup().getOrElse {
        val t0 = System.nanoTime()
        val res = compute
        val sec = (System.nanoTime() - t0) / 1e9
        synchronized {
          tagBuildSecs(tag) = tagBuildSecs.getOrElse(tag, 0.0) + sec
        }
        // Cap raised 16 → 64 (r14) → 96 (r15): the suite's distinct
        // index artifacts (signatures, postings, pair graphs, CC
        // fixpoints, SIX quantizer bundles + their array-form code
        // tables, LSH buckets, fingerprints, truth sets, curation
        // interiors) grew past ~45 with the r15 gates; at 16 the FIFO
        // evicted cross-family entries mid-suite and reps measurably
        // re-trained (rep2 of q_crossmodal_dedup: 4.9 s vs 0.2 s
        // memo-warm). `evictions` observes the cap binding so a future
        // widening is measured, not guessed. Entries are checkpointed
        // frames; most are dictionary- or id-sized, but a few are
        // deliberately CORPUS-scale (the n-gram posting table, the
        // boilerplate covered-position frame, the corpus filter — one
        // row per token position / doc), so the cap bounds entry
        // COUNT, not bytes; the bounded-session contract in the
        // object doc is what bounds memory. Eviction is LRU (hits
        // move-to-front above), so a multi-corpus session drops cold
        // corpora's frames first.
        synchronized {
          entries = (key, sess, plan, (res: Any)) :: entries
          if (entries.size > 96) { entries = entries.take(96); evictions += 1 }
        }
        res
      }
    }
  }

  def apply(tag: String, input: DataFrame, params: Any)
           (compute: => DataFrame): DataFrame =
    of[DataFrame](tag, input, params)(compute)
}
