package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom streaming state (SURVEY.md §2.11 extension): per-user running
  * aggregates via flatMapGroupsWithState — the primitive behind
  * session-stores, online feature counters, and dedup horizons that
  * windowed aggregation can't express.
  *
  * State is keyed by user_id → partitioned across executors; at 100 TB of
  * stream history the state store holds one small record per active key,
  * checkpointed incrementally. StreamingRecoverySpec proves restart from
  * a checkpoint resumes both state and offsets for the KMV and
  * clamped-balance twins.
  *
  * STATE-SCHEMA COMPATIBILITY: each operator's state encoding (the
  * GroupState type parameter) is part of its checkpoint contract — a
  * widened tuple (e.g. r6 grew clampedBalanceStream's state from 3 to 4
  * longs for the out-of-order watermark) makes EXISTING checkpoints
  * unreadable, and the restarted query fails rather than corrupting
  * state. Operationally: discard checkpoints when upgrading across a
  * state-shape change, or version the encoding explicitly (wrap the
  * tuple in a case class with defaulted new fields and a custom
  * Encoder) if checkpoints must survive.
  */
object StatefulOps {

  final case class Ev(event_id: Long, user_id: Long, event_type: String, value: Double)
  final case class UserStat(user_id: Long, n_events: Long, sum_value: Double)

  def runningStats(events: Dataset[Ev]): Dataset[UserStat] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserStat, UserStat](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Ev], state: GroupState[UserStat]) =>
          val prev = state.getOption.getOrElse(UserStat(user, 0L, 0.0))
          var n = prev.n_events
          var s = prev.sum_value
          rows.foreach { e => n += 1; s += e.value }
          val next = UserStat(user, n, s)
          state.update(next)
          Iterator(next)
      }
  }

  final case class DocTok(doc_id: Long, source: String, n_chars: Long, n_toks: Long)
  final case class Admitted(doc_id: Long, source: String, n_toks: Long, src_run: Long)

  /** Streaming twin of q115's per-source token-budget selection: admit
    * documents against a per-source budget held in keyed state. The
    * running total accumulates over EVERY seen document (not just
    * admitted ones) and rows are re-sorted to q115's priority order
    * (n_chars desc, doc_id) WITHIN each micro-batch; across batches the
    * cursor persists but arrival order rules — a stream cannot see
    * future priorities, so admission is priority-ordered per batch and
    * greedy across batches. The batch-equivalence claim is therefore
    * scoped: a corpus replayed in ONE AvailableNow batch reproduces
    * q115's prefix exactly (StatefulStreamingSpec proves that case);
    * a multi-batch replay is a different, order-sensitive policy by
    * construction. State per source is ONE long; at 100 TB of stream
    * the state store holds |sources| counters, partitioned by key. */
  def budgetAdmission(docs: Dataset[DocTok], budget: Long): Dataset[Admitted] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[Long, Admitted](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[DocTok], state: GroupState[Long]) =>
          var run = state.getOption.getOrElse(0L)
          val admitted = rows.toSeq.sortBy(d => (-d.n_chars, d.doc_id)).flatMap { d =>
            run += d.n_toks
            if (run <= budget) Some(Admitted(d.doc_id, src, d.n_toks, run)) else None
          }
          state.update(run)
          admitted.iterator
      }
  }

  final case class DocShard(doc_id: Long, n_toks: Long, h: Long, shard: Long)
  final case class ShardManifest(shard: Long, n_docs: Long, total_toks: Long,
      checksum: Long, min_doc: Long, max_doc: Long)

  /** Streaming twin of q136's shard manifest: the per-shard integrity
    * record maintained INCREMENTALLY as documents stream in. Every field
    * is a commutative monoid (count, sum, bit-XOR, min, max) — which is
    * exactly WHY q136 chose bit_xor for its content checksum — so any
    * micro-batch split and any arrival order settle to the same final
    * manifest as one batch pass (StatefulStreamingSpec replays the
    * corpus as single-file micro-batches and proves it). The shard key
    * must be stream-computable (content/id-derived, e.g. doc_id % n) —
    * q136's LPT ranking needs the whole corpus and stays batch-side.
    * State per shard is five longs; emitted once per shard per batch. */
  def manifestStream(docs: Dataset[DocShard]): Dataset[ShardManifest] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.shard)
      .flatMapGroupsWithState[ShardManifest, ShardManifest](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard: Long, rows: Iterator[DocShard], state: GroupState[ShardManifest]) =>
          var m = state.getOption.getOrElse(
            ShardManifest(shard, 0L, 0L, 0L, Long.MaxValue, Long.MinValue))
          rows.foreach { d =>
            m = ShardManifest(shard, m.n_docs + 1L, m.total_toks + d.n_toks,
              m.checksum ^ d.h,
              math.min(m.min_doc, d.doc_id), math.max(m.max_doc, d.doc_id))
          }
          state.update(m)
          Iterator(m)
      }
  }

  final case class CmCell(row_j: Int, bucket: Long)
  final case class CmCount(row_j: Int, bucket: Long, cnt: Long)

  /** Streaming twin of q145's count-min sketch: the (row, bucket) cell
    * counts maintained incrementally in keyed state as token cells
    * stream in. A cell count is a sum-monoid — the same property that
    * lets q145 merge per-shard sketches — so any micro-batch split and
    * any arrival order settle to the batch sketch
    * (StatefulStreamingSpec replays 4 micro-batches and proves it).
    * State is ONE long per touched cell, hard-capped at depth×width
    * (4×16 = 64 here) REGARDLESS of stream length — the count-min
    * trade: a bounded state store forever, at the cost of
    * overestimates the batch query measures. */
  def countMinStream(cells: Dataset[CmCell]): Dataset[CmCount] = {
    import cells.sparkSession.implicits._
    cells.groupByKey(c => (c.row_j, c.bucket))
      .flatMapGroupsWithState[CmCount, CmCount](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: (Int, Long), rows: Iterator[CmCell], state: GroupState[CmCount]) =>
          val prev = state.getOption.getOrElse(CmCount(key._1, key._2, 0L))
          val next = prev.copy(cnt = prev.cnt + rows.size)
          state.update(next)
          Iterator(next)
      }
  }

  final case class Slot(slot: Long)

  /** Streaming twin of q148's linear-counting occupancy bitmap: each
    * hashed slot is keyed state holding one bit; a slot row is emitted
    * exactly ONCE, when first occupied (Append mode), so the emitted
    * row count IS the occupancy and the distinct-count estimate
    * -m·ln((m-occupied)/m) needs no dedup downstream. The bitmap is an
    * OR-monoid — arrival order and micro-batch splits cannot change the
    * final occupied set — and state is hard-capped at m bits forever
    * (the same bounded-state trade as countMinStream). */
  def occupancyStream(slots: Dataset[Slot]): Dataset[Slot] = {
    import slots.sparkSession.implicits._
    slots.groupByKey(_.slot)
      .flatMapGroupsWithState[Boolean, Slot](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (slot: Long, _: Iterator[Slot], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else { state.update(true); Iterator(Slot(slot)) }
      }
  }

  final case class KmvHash(scope: String, h: Long)
  final case class KmvSketch(scope: String, n_seen: Long, n_kept: Int, kth: Long, est: Double)

  /** Streaming twin of q153's KMV distinct sketch: the k smallest
    * distinct hashes per scope held in keyed state, the NDV estimate
    * re-published every micro-batch (Update mode). The state is a
    * BOUNDED SORTED-SET MONOID — merge = k smallest of the union — the
    * same property that lets q153's batch sketches merge across shards,
    * so any micro-batch split and any arrival order settle to the batch
    * sketch (StatefulStreamingSpec replays 4 micro-batches and checks
    * the final estimate against q153's published row). State is ≤ k
    * longs per scope FOREVER — the sketch trade: a few hundred bytes of
    * state track the cardinality of an unbounded stream. The n_seen
    * counter (total rows absorbed, strictly increasing) marks each
    * scope's LATEST emission so readers of an Update-mode sink can
    * select the final sketch without relying on sink ordering. */
  def kmvStream(hashes: Dataset[KmvHash], k: Int): Dataset[KmvSketch] = {
    import hashes.sparkSession.implicits._
    hashes.groupByKey(_.scope)
      .flatMapGroupsWithState[(Seq[Long], Long), KmvSketch](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (scope: String, rows: Iterator[KmvHash],
            state: GroupState[(Seq[Long], Long)]) =>
          val (kept, seen) = state.getOption.getOrElse((Seq.empty[Long], 0L))
          val batch = rows.map(_.h).toSeq
          val merged = (kept ++ batch).distinct.sorted.take(k)
          val nSeen = seen + batch.size
          state.update((merged, nSeen))
          val est =
            if (merged.size < k) merged.size.toDouble
            else (k - 1).toDouble * 1152921504606846976L.toDouble / merged.last
          Iterator(KmvSketch(scope, nSeen, merged.size,
            merged.lastOption.getOrElse(0L), est))
      }
  }

  final case class HllSketch(scope: String, n_seen: Long, n_occupied: Int, est: Double)

  /** Streaming twin of q168's first-principles HyperLogLog: the m=256
    * MAX-monoid registers per scope held in keyed state, the estimate
    * re-published every micro-batch (Update mode). Register merge is
    * elementwise max — commutative, associative, idempotent — so ANY
    * micro-batch split, arrival order, or replay settles to exactly the
    * batch registers (StatefulStreamingSpec checks the final estimate
    * against q168's published row). Unlike the KMV state there is no
    * trimming to reason about: state is 256 small ints per scope
    * FOREVER, and duplicates are absorbed for free (no distinct
    * anywhere). m, the rank constant and α are the constants of
    * [[graft.operators.Corpus4.hllRegisters]], so the twins cannot
    * drift; the fold stays in Scala because it runs in keyed state. */
  def hllStream(hashes: Dataset[KmvHash]): Dataset[HllSketch] = {
    import hashes.sparkSession.implicits._
    import graft.operators.Corpus4.{HllAlpha, HllM => m, HllRankBits}
    hashes.groupByKey(_.scope)
      .flatMapGroupsWithState[(Seq[Int], Long), HllSketch](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (scope: String, rows: Iterator[KmvHash],
            state: GroupState[(Seq[Int], Long)]) =>
          val (reg0, seen) = state.getOption.getOrElse((Seq.fill(m)(0), 0L))
          val reg = reg0.toArray
          var n = seen
          rows.foreach { r =>
            val idx = (r.h % m).toInt
            val w = r.h / m
            val rho =
              if (w == 0) HllRankBits else HllRankBits - java.lang.Long.toBinaryString(w).length
            if (rho > reg(idx)) reg(idx) = rho
            n += 1
          }
          state.update((reg.toSeq, n))
          val s = reg.foldLeft(0.0)((a, x) => a + math.pow(2.0, -x))
          val v = reg.count(_ == 0)
          // operation order mirrors Corpus4.hllEstimate exactly (α · m²
          // first, then / s) so the twins agree to the last bit
          val eRaw = HllAlpha * (m.toDouble * m) / s
          val est = if (eRaw <= 2.5 * m && v > 0) m * math.log(m.toDouble / v) else eRaw
          Iterator(HllSketch(scope, n, m - v, est))
      }
  }

  final case class DayVol(etype: String, d: java.sql.Date, vol_c: Long)
  final case class DecayState(etype: String, dmax: java.sql.Date, decayed_c: Double, total_c: Long)

  /** Streaming twin of q175's decayed volume: keyed state
    * (latest day, decayed cents, total cents) maintained so the result
    * is ARRIVAL-ORDER-INDEPENDENT up to float ulps — a row for day d
    * either ages the accumulator forward (acc·0.9^(d−dmax) + vol) or
    * back-weights itself in (acc + 0.9^(dmax−d)·vol), which reproduces
    * Σ 0.9^(dmax−d_i)·vol_i for ANY interleaving; late data needs no
    * special path. StatefulStreamingSpec replays shuffled multi-batch
    * input and matches q175's published (round-4) numbers. */
  def decayedStream(daily: Dataset[DayVol]): Dataset[DecayState] = {
    import daily.sparkSession.implicits._
    daily.groupByKey(_.etype)
      .flatMapGroupsWithState[DecayState, DecayState](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (etype: String, rows: Iterator[DayVol], state: GroupState[DecayState]) =>
          var st = state.getOption.getOrElse(
            DecayState(etype, java.sql.Date.valueOf("1970-01-01"), 0.0, 0L))
          rows.foreach { r =>
            val gap = java.time.temporal.ChronoUnit.DAYS.between(
              st.dmax.toLocalDate, r.d.toLocalDate)
            st =
              if (gap > 0)
                DecayState(etype, r.d,
                  st.decayed_c * math.pow(0.9, gap.toDouble) + r.vol_c,
                  st.total_c + r.vol_c)
              else
                DecayState(etype, st.dmax,
                  st.decayed_c + math.pow(0.9, -gap.toDouble) * r.vol_c,
                  st.total_c + r.vol_c)
          }
          state.update(st)
          Iterator(st)
      }
  }

  final case class EvCents(etype: String, c: Long)
  final case class MomentSketch(etype: String, n: Long, mean_val: Double,
      sd_val: Double, skewness: Double, ex_kurtosis: Double)

  /** Streaming twin of q184's higher-moment profile: the per-type power
    * sums (n, Σc, Σc², Σc³, Σc⁴) held in keyed state — a PERFECT
    * commutative monoid, so any micro-batch split and ANY arrival order
    * settle to exactly the batch statistics (no ulp caveat: the sums are
    * exact big integers, serialized as decimal strings in state because
    * Σc⁴ outruns both Long and the default Decimal(38,18) encoder; the
    * doubles only appear in the published row, computed by the IDENTICAL
    * formula tree as q184 so the rounded outputs match bit-for-bit).
    * State is five numbers per event type FOREVER — the same bounded-
    * state trade as the KMV/HLL twins. */
  def momentsStream(events: Dataset[EvCents]): Dataset[MomentSketch] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.etype)
      .flatMapGroupsWithState[(Long, String, String, String, String), MomentSketch](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (etype: String, rows: Iterator[EvCents],
            state: GroupState[(Long, String, String, String, String)]) =>
          val (n0, a1, a2, a3, a4) =
            state.getOption.getOrElse((0L, "0", "0", "0", "0"))
          var n = n0
          var s1 = BigInt(a1); var s2 = BigInt(a2)
          var s3 = BigInt(a3); var s4 = BigInt(a4)
          rows.foreach { r =>
            val c = BigInt(r.c); val c2 = c * c
            n += 1; s1 += c; s2 += c2; s3 += c2 * c; s4 += c2 * c2
          }
          state.update((n, s1.toString, s2.toString, s3.toString, s4.toString))
          // q184's exact formula tree (same left-assoc op order).
          val nn = n.toDouble
          val d1 = s1.toDouble; val d2 = s2.toDouble
          val d3 = s3.toDouble; val d4 = s4.toDouble
          val mean = d1 / nn
          val m2 = d2 / nn - mean * mean
          val m3 = d3 / nn - 3 * mean * (d2 / nn) + 2 * mean * mean * mean
          val m4 = d4 / nn - 4 * mean * (d3 / nn) + 6 * mean * mean * (d2 / nn) -
            3 * mean * mean * mean * mean
          def r4(x: Double): Double =
            BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          Iterator(MomentSketch(etype, n, r4(mean / 100), r4(math.sqrt(m2) / 100),
            if (m2 <= 0) Double.NaN else r4(m3 / math.pow(m2, 1.5)),
            if (m2 <= 0) Double.NaN else r4(m4 / (m2 * m2) - 3)))
      }
  }

  final case class UserEvt(user_id: Long, us: Long)
  final case class BurstStat(user_id: Long, n_events: Long, peak_24h: Long,
      n_bursty: Long, first_burst_day: String)

  /** Streaming twin of q194's burst-rate audit: per-user keyed state
    * holding the user's event-time multiset (sorted micros), from which
    * each trigger recomputes the trailing-24 h sliding counts with one
    * two-pointer sweep — so the published (peak, n_bursty, first day)
    * match the batch RANGE-frame query BIT-FOR-BIT under ANY arrival
    * order or micro-batch split (a late event can retroactively raise
    * an earlier event's window count; only the full multiset makes that
    * exact). Production note: under an event-time watermark the
    * retained multiset is bounded to watermark + 24 h horizon per key
    * (older timestamps can no longer change any window), which is the
    * usual bounded-state trade; the fixture replay keeps full history
    * to prove exact order-independence. */
  def burstStream(events: Dataset[UserEvt]): Dataset[BurstStat] = {
    import events.sparkSession.implicits._
    // Day derivation must follow the SESSION timezone — the q194 batch
    // twin's to_date(ts) does — so capture it driver-side; a hardcoded
    // UTC would silently break the bit-for-bit claim off-UTC sessions.
    val zone = java.time.ZoneId.of(
      events.sparkSession.sessionState.conf.sessionLocalTimeZone)
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Seq[Long], BurstStat](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[UserEvt], state: GroupState[Seq[Long]]) =>
          val ts = (state.getOption.getOrElse(Seq.empty[Long]) ++
            rows.map(_.us)).sorted
          state.update(ts)
          // Two-pointer sweep: win(i) = #events in [ts(i)−24h, ts(i)]
          // (RANGE semantics — peers share the post-group value, which
          // the ≤-scan reproduces since equal micros are adjacent).
          var lo = 0
          var peak = 0L; var bursty = 0L; var firstDay: String = null
          for (i <- ts.indices) {
            while (ts(lo) < ts(i) - 86400000000L) lo += 1
            // extend over the peer group of ts(i): count all j ≤ last
            // index with ts(j) == ts(i)
            var hi = i
            while (hi + 1 < ts.length && ts(hi + 1) == ts(i)) hi += 1
            val win = (hi - lo + 1).toLong
            if (win > peak) peak = win
            if (win >= 5L) {
              bursty += 1
              val d = java.time.Instant
                .ofEpochSecond(Math.floorDiv(ts(i), 1000000L))
                .atZone(zone).toLocalDate.toString
              if (firstDay == null || d < firstDay) firstDay = d
            }
          }
          Iterator(BurstStat(uid, ts.length.toLong, peak, bursty, firstDay))
      }
  }

  final case class DayDelta(user_id: Long, d: java.sql.Date, dv: Long)
  final case class BalanceState(user_id: Long, n_days: Long, delta_sum: Long, final_bal: Long)

  /** Streaming twin of q204's clamped balance: the canonical keyed
    * ACCUMULATOR — state is (days, net, balance, last-folded epoch
    * day), four longs per user forever; each day's NETTED delta folds
    * through bal' = max(0, min(50, bal+δ)). The clamp is
    * order-SENSITIVE (unlike the monoid twins), so this twin requires
    * per-key in-order day delivery — the partitioned-log contract a
    * Kafka-keyed topic provides. Within one trigger, same-day rows are
    * netted (sum) BEFORE the single per-day clamp fold, matching
    * q204's day-level pre-aggregate; a day that arrives again after it
    * was folded, or out of order across batches, FAILS FAST
    * (IllegalStateException) rather than silently double-folding.
    * StatefulStreamingSpec stages day-ranged files so cross-batch
    * order holds and asserts the final state matches q204 exactly. */
  def clampedBalanceStream(deltas: Dataset[DayDelta]): Dataset[BalanceState] = {
    import deltas.sparkSession.implicits._
    deltas.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long, Long), BalanceState](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[DayDelta],
         state: GroupState[(Long, Long, Long, Long)]) =>
          var (nd, net, bal, lastDay) =
            state.getOption.getOrElse((0L, 0L, 0L, Long.MinValue))
          // Net same-day rows first (q204's per-day pre-aggregate),
          // then fold exactly one clamp per day in day order.
          val byDay = rows.toSeq.groupBy(_.d.toLocalDate.toEpochDay)
            .toSeq.map { case (ed, rs) => (ed, rs.map(_.dv).sum) }
            .sortBy(_._1)
          byDay.foreach { case (ed, dv) =>
            if (ed <= lastDay)
              throw new IllegalStateException(
                s"clampedBalanceStream: user $uid day epoch=$ed arrived " +
                  s"twice or out of order (last folded epoch=$lastDay); " +
                  "the clamp fold is order-sensitive — deliver per-key " +
                  "in day order (keyed-log contract)")
            lastDay = ed
            nd += 1; net += dv
            bal = math.max(0L, math.min(50L, bal + dv))
          }
          state.update((nd, net, bal, lastDay))
          Iterator(BalanceState(uid, nd, net, bal))
      }
  }

  final case class ChunkIn(doc_id: Long, chunk_idx: Long, n_tokens: Long, fp: String)
  final case class ChunkDecision(doc_id: Long, chunk_idx: Long, n_tokens: Long,
      kept: Boolean)

  /** Streaming twin of q259's chunk-granularity keep-first dedup — the
    * incremental production form of CCNet/RefinedWeb paragraph dedup: as
    * chunked documents stream in, keyed state on the chunk fingerprint
    * records the chunk's FIRST OWNER (doc_id, chunk_idx); the owner's
    * row is emitted kept=true, every later duplicate kept=false. The
    * q204 arrival-order discipline applies: WITHIN a micro-batch, rows
    * sharing a fingerprint are resolved in q259's batch order
    * (doc_id, chunk_idx); ACROSS batches, first arrival owns — so a
    * corpus replayed in doc order (one AvailableNow batch, or doc-ranged
    * files in order) reproduces q259's min(struct) winner exactly
    * (StatefulStreamingSpec proves both), while an out-of-order replay
    * is the documented arrival-order policy every incremental dedup
    * service actually runs. State per distinct chunk is two longs — at
    * web scale the store holds one entry per UNIQUE chunk (that is the
    * irreducible memory of incremental exact dedup; use the RocksDB
    * state store provider and the fingerprint-partitioned key space
    * spreads it across executors). Input rows arrive pre-chunked
    * (Corpus.chunkTokens is stateless, so it runs on the stream) with
    * fp = md5(chunk), matching q259's keying. */
  def chunkDedupStream(chunks: Dataset[ChunkIn]): Dataset[ChunkDecision] = {
    import chunks.sparkSession.implicits._
    chunks.groupByKey(_.fp)
      .flatMapGroupsWithState[(Long, Long), ChunkDecision](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[ChunkIn], state: GroupState[(Long, Long)]) =>
          // NEVER materialize the group: a heavy-hitter fingerprint (a
          // boilerplate chunk replayed in one batch) lands wholly in one
          // task otherwise — the same single-task hazard q259's batch
          // min(struct) rewrite avoids. Owned fp → pure streaming map;
          // new fp → one O(1)-memory pass keeping a running champion
          // (the batch-order min), emitting dethroned rows as they fall.
          if (state.exists)
            rows.map(c => ChunkDecision(c.doc_id, c.chunk_idx, c.n_tokens, kept = false))
          else {
            // state is claimed on the FIRST row and refreshed on every
            // dethronement (all before the exec's completion hook writes
            // the store), so even a plan that stops consuming the group
            // early commits SOME owner — never an ownerless key that
            // would let a later batch elect a second kept=true winner.
            var champ: ChunkIn = null
            val losers = rows.flatMap { c =>
              if (champ == null) {
                champ = c; state.update((c.doc_id, c.chunk_idx)); Iterator.empty
              } else if (c.doc_id < champ.doc_id ||
                (c.doc_id == champ.doc_id && c.chunk_idx < champ.chunk_idx)) {
                val prev = champ; champ = c
                state.update((c.doc_id, c.chunk_idx))
                Iterator.single(ChunkDecision(prev.doc_id, prev.chunk_idx, prev.n_tokens, kept = false))
              } else
                Iterator.single(ChunkDecision(c.doc_id, c.chunk_idx, c.n_tokens, kept = false))
            }
            losers ++ Iterator.single(
              ChunkDecision(champ.doc_id, champ.chunk_idx, champ.n_tokens, kept = true))
          }
      }
  }

  final case class UrlIn(doc_id: Long, canon_url: String)
  final case class UrlDecision(doc_id: Long, canon_url: String, kept: Boolean)

  /** Streaming twin of q266's URL keep-first dedup — the crawl-frontier
    * "have we fetched this page" check every incremental web pipeline
    * runs: canonicalized URLs stream in (Corpus12.canonUrls is stateless,
    * so canonicalization itself runs on the stream), keyed state on the
    * canonical URL records the FIRST OWNER doc_id; the owner emits
    * kept=true, every later duplicate kept=false. The q204/q259
    * arrival-order discipline: within a micro-batch ties resolve in
    * q266's batch order (min doc_id); across batches first arrival owns
    * — a doc-ordered replay reproduces q266's winner exactly
    * (StatefulStreamingSpec proves it), any other order is the
    * documented frontier policy. State per distinct canonical URL is
    * one long — the irreducible memory of incremental fetch dedup; at
    * web scale use the RocksDB store and the URL-hash-partitioned key
    * space spreads it across executors. */
  def urlDedupStream(urls: Dataset[UrlIn]): Dataset[UrlDecision] = {
    import urls.sparkSession.implicits._
    urls.groupByKey(_.canon_url)
      .flatMapGroupsWithState[Long, UrlDecision](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (cu: String, rows: Iterator[UrlIn], state: GroupState[Long]) =>
          // Same O(1)-memory discipline as chunkDedupStream: owned URL →
          // streaming map; new URL → running-min champion pass, never a
          // materialized sort (a hot URL replayed in one batch must not
          // land wholly in one task's memory).
          if (state.exists)
            rows.map(r => UrlDecision(r.doc_id, cu, kept = false))
          else {
            // claim-on-first-row + refresh-on-dethrone, as in
            // chunkDedupStream: partial consumption never commits an
            // ownerless URL.
            var champ = Long.MinValue
            var seen = false
            val losers = rows.flatMap { r =>
              if (!seen) { seen = true; champ = r.doc_id; state.update(champ); Iterator.empty }
              else if (r.doc_id < champ) {
                val prev = champ; champ = r.doc_id
                state.update(champ)
                Iterator.single(UrlDecision(prev, cu, kept = false))
              } else Iterator.single(UrlDecision(r.doc_id, cu, kept = false))
            }
            losers ++ Iterator.single(UrlDecision(champ, cu, kept = true))
          }
      }
  }

  final case class QuotaIn(doc_id: Long, host: String, n_chars: Long)
  final case class QuotaDecision(doc_id: Long, host: String, admitted: Boolean)

  /** Streaming twin of q265's per-domain cap — the ingestion-time form:
    * a crawl frontier admits documents per host while the host's budget
    * lasts. HONEST SEMANTIC DIFFERENCE from the batch query: q265 sees
    * the whole corpus and keeps the top-cap by score; an online admitter
    * cannot see future scores, so the policy is admit-first-cap in
    * arrival order. Within a micro-batch ties resolve in q265's
    * selection order (n_chars DESC, doc_id), so a score-ordered replay
    * reproduces the batch selection exactly (StatefulStreamingSpec
    * proves it), while ANY arrival order admits exactly
    * min(cap, |host|) docs per host — the budget invariant an ingestion
    * frontier actually enforces. State per host: one long (admitted
    * count) — |hosts| entries total at any corpus size. */
  def domainQuotaStream(docs: Dataset[QuotaIn], cap: Int = 10): Dataset[QuotaDecision] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.host)
      .flatMapGroupsWithState[Long, QuotaDecision](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (h: String, rows: Iterator[QuotaIn], state: GroupState[Long]) =>
          // O(cap)-memory, not O(batch): the batch's admitted set is the
          // top-(remaining budget) by (n_chars DESC, doc_id) — maintain
          // it in a bounded heap (worst-kept on top), emitting every
          // spilled row as rejected the moment it falls out. A host hit
          // by a million-page batch never materializes the group.
          val used = state.getOption.getOrElse(0L)
          val budget = math.max(0L, cap - used).toInt
          if (budget == 0)
            rows.map(r => QuotaDecision(r.doc_id, h, admitted = false))
          else {
            // greatest = worst kept: smallest n_chars, then largest doc_id
            val pq = scala.collection.mutable.PriorityQueue
              .empty[QuotaIn](Ordering.by(r => (-r.n_chars, r.doc_id)))
            // pq.size is monotone up to the budget, so writing state only
            // while it is still growing (pq.size ≤ budget after the
            // enqueue) keeps the committed count correct even under
            // partial consumption (the claim-on-first-row discipline: the
            // FIRST row always writes, since budget ≥ 1 here) — and once
            // the heap saturates at the budget the count is stable, so a
            // heavy-hitter host no longer pays one state-store write per
            // arriving row for a value that never changes.
            val spilled = rows.flatMap { r =>
              pq.enqueue(r)
              if (pq.size <= budget) state.update(used + pq.size)
              if (pq.size > budget) {
                val out = pq.dequeue()
                Iterator.single(QuotaDecision(out.doc_id, h, admitted = false))
              } else Iterator.empty
            }
            spilled ++ pq.iterator.map(r => QuotaDecision(r.doc_id, h, admitted = true))
          }
      }
  }

  final case class DocBit(b: Long, doc_id: Long, x: Int)
  final case class RunSeg(b: Long, n: Long, firstx: Int, lastx: Int, chg: Long)

  /** Streaming twin of q236's runs count: per-bucket keyed state holds
    * the bucket's (doc_id, x) multiset; each trigger recomputes the
    * bucket's internal transition count from the doc_id-sorted
    * sequence, so the published segment is arrival-order independent
    * (a doc landing between two previously-adjacent docs retroactively
    * rewrites the transition it sat on — only the multiset makes that
    * exact, the q194 argument). The segment is the classic parallel
    * runs MONOID: combine(a, b) = (a.n + b.n, a.firstx, b.lastx,
    * a.chg + b.chg + [a.lastx ≠ b.firstx]) — exactly how q236's batch
    * plan (and the spec's assembly) stitches buckets without a global
    * window. */
  def runsStream(docs: Dataset[DocBit]): Dataset[RunSeg] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.b)
      .flatMapGroupsWithState[Seq[(Long, Int)], RunSeg](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (b: Long, rows: Iterator[DocBit], state: GroupState[Seq[(Long, Int)]]) =>
          val xs = (state.getOption.getOrElse(Seq.empty[(Long, Int)]) ++
            rows.map(r => (r.doc_id, r.x))).sortBy(_._1)
          state.update(xs)
          val chg = xs.iterator.sliding(2).withPartial(false)
            .count(p => p.head._2 != p(1)._2).toLong
          Iterator(RunSeg(b, xs.length.toLong, xs.head._2, xs.last._2, chg))
      }
  }

  /** Batch twin for equivalence tests. */
  def runningStatsBatch(spark: SparkSession, dir: String): Dataset[UserStat] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .as[UserStat]
  }
}
