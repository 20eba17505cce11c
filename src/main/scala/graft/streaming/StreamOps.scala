package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming operators (SURVEY.md §2.E7): parquet stream source →
  * watermark → windowed aggregation, and a stateful gap sessionizer via
  * flatMapGroupsWithState. Watermarks bound state; the sessionizer uses
  * event-time timeout so idle users' state is evicted — both required for
  * unbounded 100 TB/day streams.
  */
object StreamOps {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Long, sumValue: Double)
  case class SessionOut(user_id: Long, t_start: Timestamp, t_end: Timestamp,
                        n_events: Long, sum_value: Double)

  /** Parquet stream source over a directory of event part-files (file
    * streams require a directory); schema locked from a batch read of the
    * same path so the stream can't drift. Same nanos→micros normalization
    * as Tables.events.
    */
  def readEventStream(spark: SparkSession, eventsDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsDir).schema
    val raw = spark.readStream.schema(schema).parquet(eventsDir)
    // Same fail-fast contract as Tables.events: LTZ would shift silently.
    val tsCol = schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz")
      case org.apache.spark.sql.types.TimestampNTZType => col("ts")
      case other => throw new IllegalStateException(
        s"events.ts: unexpected parquet type $other (expected NANOS-as-long " +
          "or TIMESTAMP_NTZ)")
    }
    raw.withColumn("ts", tsCol)
  }

  /** E7: tumbling-window count/sum with a 1-hour watermark. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withColumn("ts_tz", col("ts").cast("timestamp"))
      .withWatermark("ts_tz", "1 hour")
      .groupBy(window(col("ts_tz"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** E16 streaming twin: native sliding windows (1 h every 15 min) with a
    * watermark bounding the 4 concurrently-open windows per key. Same
    * output shape as the batch slot-expansion mirror (queries.Events
    * .hopWindowAgg), which the spec matches it against.
    */
  def hopWindowAgg(events: DataFrame): DataFrame =
    events
      .withColumn("ts_tz", col("ts").cast("timestamp"))
      .withWatermark("ts_tz", "1 hour")
      .groupBy(window(col("ts_tz"), "60 minutes", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  val SessionGapMs: Long = 30L * 60 * 1000

  /** Full-precision epoch micros of a Timestamp (getTime alone drops µs). */
  private def microsOf(ts: Timestamp): Long =
    ts.getTime * 1000 + (ts.getNanos % 1000000) / 1000

  private def tsOf(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000)
    t.setNanos(((us % 1000000) * 1000).toInt) // full sub-second from micros
    t
  }

  /** Stateful gap sessionizer: emits a session when a user goes quiet for
    * longer than the gap (or on event-time timeout). State is one small
    * struct per active user (epoch-micros bounds) — bounded by the watermark.
    */
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, tsOf(s.start), tsOf(s.last), s.n, s.sumValue))
          } else {
            val sorted = it.toSeq.sortBy(e => (microsOf(e.ts), e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = microsOf(e.ts)
              cur match {
                case Some(s) if t - s.last > SessionGapMs * 1000 =>
                  closed += SessionOut(userId, tsOf(s.start), tsOf(s.last), s.n, s.sumValue)
                  cur = Some(SessionState(t, t, 1, e.value))
                case Some(s) =>
                  cur = Some(s.copy(last = t, n = s.n + 1, sumValue = s.sumValue + e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last / 1000 + SessionGapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming exact dedup: drop re-deliveries of the same content hash
    * while the watermark allows a duplicate to still arrive. State is one
    * (hash, ts) entry per distinct doc inside the watermark horizon —
    * bounded, unlike a plain dropDuplicates on an unbounded stream. The
    * 100 TB/day ingest shape: dedup at the door, before any downstream
    * compute fans out.
    */
  def dedupStream(docs: DataFrame, textCol: String, tsCol: String): DataFrame =
    docs
      // same normal form as batch dedup_exact (TextOps.normText) so the
      // streaming and batch dedup agree on what "identical" means
      .withColumn("content_hash",
        md5(graft.llm.TextOps.normText(col(textCol)).cast("binary")))
      .withWatermark(tsCol, "1 hour")
      .dropDuplicatesWithinWatermark("content_hash")

  case class AsofState(eventId: Long, tsUs: Long, value: Double)
  case class AsofOut(event_id: Long, user_id: Long, ts: Timestamp, value: Double,
                     err_event_id: Option[Long], err_ts: Option[Timestamp],
                     err_value: Option[Double])

  /** Streaming twin of the batch as-of join (operators.Relational.asofJoin /
    * the `asof_join` query): each purchase is enriched with the latest
    * error seen so far for the same user. State is ONE small struct per
    * user — O(|users|), not O(events) — and never expires, because for
    * as-of semantics the latest right row stays joinable forever (that is
    * the operator, not a leak). Within a micro-batch events are processed
    * in (ts, side, event_id) order — identical tie rules to the batch
    * construction. Cross-batch, state only ever advances: a LATE error
    * (older than the stored one) is ignored rather than regressing the
    * state, and a late purchase older than the stored error emits nulls —
    * err_ts ≤ ts always holds; late rights can't retro-fill already-emitted
    * purchases (Append semantics — the documented delta from batch).
    */
  def asofEnrich(events: Dataset[Event]): Dataset[AsofOut] = {
    import events.sparkSession.implicits._
    events
      .filter(e => e.event_type == "error" || e.event_type == "purchase")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofState, AsofOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[AsofState]) =>
          val sorted = it.toSeq.sortBy(e =>
            (microsOf(e.ts), if (e.event_type == "error") 0 else 1, e.event_id))
          var last = state.getOption
          val out = Seq.newBuilder[AsofOut]
          sorted.foreach { e =>
            val us = microsOf(e.ts)
            if (e.event_type == "error") {
              // advance-only: an error older than the stored one is late
              // data, not a better match for future purchases
              if (last.forall(s =>
                s.tsUs < us || (s.tsUs == us && s.eventId < e.event_id)))
                last = Some(AsofState(e.event_id, us, e.value))
            } else {
              // a late purchase may predate the stored error — as-of
              // semantics (err_ts <= ts) then mean "no match known"
              val m = last.filter(_.tsUs <= us)
              out += AsofOut(e.event_id, userId, e.ts, e.value,
                m.map(_.eventId), m.map(s => tsOf(s.tsUs)), m.map(_.value))
            }
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  case class FunnelState(view: Option[Long], click: Option[Long],
                         purchase: Option[Long])
  case class FunnelOut(user_id: Long, stage: String, ts: Timestamp)

  /** Streaming twin of the batch funnel (E21, queries.Behavior
    * .funnelMilestonesOf): emits one row per user per milestone the moment
    * it first completes (view → first click strictly after the view →
    * first purchase strictly after that click). State is one 3-slot
    * Option[Long] struct per user, monotone — a slot fills once and never
    * changes, so cross-batch there is no late-data regression to document
    * beyond the family's usual advance-only rule (a late EARLIER view
    * cannot retro-replace the recorded first view; in-order input matches
    * the batch milestones exactly, spec-asserted). Within a micro-batch
    * events process in (ts, event_id) order — the first qualifying event
    * in ascending order IS the batch min.
    */
  def funnelStream(events: Dataset[Event]): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[FunnelState]) =>
          val sorted = it.toSeq.sortBy(e => (microsOf(e.ts), e.event_id))
          var st = state.getOption.getOrElse(FunnelState(None, None, None))
          val out = Seq.newBuilder[FunnelOut]
          sorted.foreach { e =>
            val us = microsOf(e.ts)
            e.event_type match {
              case "view" if st.view.isEmpty =>
                st = st.copy(view = Some(us))
                out += FunnelOut(userId, "view", e.ts)
              case "click" if st.click.isEmpty && st.view.exists(_ < us) =>
                st = st.copy(click = Some(us))
                out += FunnelOut(userId, "click_after_view", e.ts)
              case "purchase" if st.purchase.isEmpty && st.click.exists(_ < us) =>
                st = st.copy(purchase = Some(us))
                out += FunnelOut(userId, "purchase_after_click", e.ts)
              case _ => ()
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  case class ThrottleState(lastMs: Long)
  case class ThrottleOut(event_id: Long, user_id: Long, event_type: String,
                         ts: Timestamp)

  /** Streaming twin of the batch rate-limit throttle (E24,
    * queries.Behavior.eventsThrottle): keep an event only when it lands
    * more than ThrottleMs after the previous event of the same
    * (user, type). State is ONE epoch-millis long per active key —
    * O(keys), advance-only — and compares at the same unix-millis
    * granularity as the batch lag window. Within a micro-batch events are
    * processed in (ts, event_id) order — identical tie rules to the batch
    * window. Cross-batch, state only advances: a LATE event (older than
    * the stored last) is judged against the advanced state instead of
    * retro-inserting into the sequence (Append semantics — the documented
    * delta from batch; an in-order stream matches the batch twin exactly,
    * spec-asserted).
    */
  def throttleStream(events: Dataset[Event]): Dataset[ThrottleOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[ThrottleState, ThrottleOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, String), it: Iterator[Event], state: GroupState[ThrottleState]) =>
          val sorted = it.toSeq.sortBy(e => (microsOf(e.ts), e.event_id))
          var last = state.getOption
          val out = Seq.newBuilder[ThrottleOut]
          sorted.foreach { e =>
            val ms = microsOf(e.ts) / 1000
            if (last.forall(s => ms - s.lastMs > graft.queries.Behavior.ThrottleMs))
              out += ThrottleOut(e.event_id, key._1, key._2, e.ts)
            // the batch lag compares to the previous EVENT, kept or not —
            // state advances on every event, not just on kept ones
            if (last.forall(_.lastMs <= ms)) last = Some(ThrottleState(ms))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  case class Scd2State(eventId: Long, state: String, tsUs: Long)
  case class Scd2Out(user_id: Long, event_id: Long, state: String,
                     valid_from: Timestamp, valid_to: Timestamp)

  /** Streaming twin of the batch SCD2 construction (`scd2_intervals`): each
    * arriving event CLOSES the user's open interval (emitted) and opens a
    * new one (held in state — one small struct per user, O(|users|)).
    * Append semantics mean only closed intervals are emitted; the open
    * interval lives in state until the next change closes it (the batch
    * twin emits it with valid_to NULL — the documented delta). Within a
    * micro-batch events apply in (ts, event_id) order — the batch tie
    * rule; cross-batch the state only advances, so a late event older
    * than the open interval is ignored rather than rewriting emitted
    * history (same policy as the streaming as-of).
    */
  def scd2Stream(events: Dataset[Event]): Dataset[Scd2Out] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Out](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[Scd2State]) =>
          val sorted = it.toSeq.sortBy(e => (microsOf(e.ts), e.event_id))
          var cur = state.getOption
          val out = Seq.newBuilder[Scd2Out]
          sorted.foreach { e =>
            val us = microsOf(e.ts)
            cur match {
              case Some(s) if us > s.tsUs || (us == s.tsUs && e.event_id > s.eventId) =>
                out += Scd2Out(userId, s.eventId, s.state, tsOf(s.tsUs), tsOf(us))
                cur = Some(Scd2State(e.event_id, e.event_type, us))
              case Some(_) => // late event behind the open interval: advance-only
              case None => cur = Some(Scd2State(e.event_id, e.event_type, us))
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming benchmark decontamination — the ingest-time twin of the
    * batch `decontaminate` operator: flag arriving documents that share a
    * word-3-gram with the (static, small) benchmark set. The shingle
    * explode and the stream-static inner join against the broadcast index
    * are STATELESS; the only state is the within-watermark doc_id dedup
    * that collapses multi-shingle hits back to one row per contaminated
    * doc — bounded by the watermark horizon, not the stream. Same hash
    * construction as batch, so the spec can demand set-equality with it.
    */
  def decontaminateStream(docs: DataFrame, benchHashes: DataFrame,
                          tsCol: String): DataFrame = {
    val t = graft.llm.TextOps
    docs
      .withColumn("s", explode(array_distinct(t.shingles(t.toks(col("text"))))))
      .withColumn("h", md5(col("s").cast("binary")))
      .join(broadcast(benchHashes), Seq("h"))
      .withWatermark(tsCol, "1 hour")
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"))
  }

  /** Streaming incremental near-dedup — the ingest-time twin of
    * `dedup_incremental` over the PERSISTED signature index
    * (sources.IndexSink): each arriving document's minhash bands are
    * computed statelessly in the micro-batch (Fence-barriered, identical
    * expressions to the stored index's, so band keys are byte-equal), then
    * a stream-static inner join probes the served index
    * (`IndexSink.servedSigs`, tombstones excluded like the batch probe's)
    * on its band_key layout. The join is STATELESS; the only state is the
    * within-watermark pair dedup that collapses multi-band hits — bounded
    * by the watermark horizon. This is the shape a 100 TB/day ingest
    * actually runs: the index never moves, each micro-batch shuffles only
    * itself.
    */
  def indexProbeStream(spark: SparkSession, indexTable: String,
                       docs: DataFrame, tsCol: String): DataFrame = {
    val index = graft.sources.IndexSink.servedSigs(spark, indexTable)
    val b = graft.llm.Dedup.sigBandsOf(docs)
      .withColumn("band_key", concat_ws(":", col("band_idx"), col("band_hash")))
      .select(col("doc_id").as("batch_id"), col("sig").as("sig_b"),
        col("band_key"), col(tsCol))
    val est = graft.llm.Dedup.sigAgreement(col("sig_a"), col("sig_b"))
    b.join(index, Seq("band_key"))
      .filter(est >= 0.5)
      .withWatermark(tsCol, "1 hour")
      .dropDuplicatesWithinWatermark("index_id", "batch_id")
      .select(col("index_id"), col("batch_id"))
  }

  /** Streaming probe of the PERSISTED PQ pair (r9; cell-pruned r10 — the
    * indexProbeStream lineage applied to the compressed tier, D76/D85):
    * each arriving query vector computes its NProbe-cell probe list
    * map-side through the BAKED coarse quantizer (Pq.probeCellsBaked — the
    * ≤ NumCells stored centroids folded into literals), explodes it, and
    * EQUALITY-joins the codes table pivoted to one row per stored vector
    * and keyed by its stored home cell — so a micro-batch touches only the
    * probed cells' share of the corpus (~nprobe/cells) instead of
    * cross-joining all of it, the same gate the batch IVFADC/radius
    * queries apply. Candidates are then scored through the BAKED ADC
    * expression (Pq.adcBaked — contract-bounded codebook as map literals,
    * a pure per-row predicate with NO aggregation state), cut at the
    * radius (`graft.pq.radiusE6` — the est ≥ 0.5 of the minhash probe),
    * and pair-deduped within the watermark for redelivery. Output rows are
    * byte-identical to the batch cell-pruned radius probe over the same
    * pair (`Pq.servePqRadiusIvfFrom`; PqLifecycleSpec pins row parity):
    * the radius form is what makes compressed serving STREAMABLE — top-k
    * is a rank over the whole candidate set, a radius is stateless — and
    * the cell gate is what keeps a 10⁹-vector static side from being
    * re-scanned per micro-batch. Like every IVF composition, pruning
    * trades recall at the cell boundary (a within-radius vector outside
    * the probed cells is not emitted), never a reported distance.
    *
    * Scale shape: the static side never moves and is consumed through an
    * equality join on cell (hash-partitionable at any corpus size — no
    * broadcast of the corpus, no per-batch BNLJ); each micro-batch
    * shuffles only itself plus the probed cells' candidates; state is
    * bounded by emitted pairs inside the watermark horizon, not by the
    * corpus.
    */
  def pqProbeStream(spark: SparkSession, pairTable: String,
                    queries: DataFrame, tsCol: String): DataFrame = {
    val P = graft.llm.Pq
    val codes = P.codesWide(spark, pairTable)
    queries
      .select(col("vec_id").as("q_id"), col("embedding"), col(tsCol))
      .withColumn("cell",
        explode(P.probeCellsBaked(spark, pairTable, col("embedding"))))
      .join(codes, Seq("cell"))
      .filter(col("q_id") =!= col("nb_id"))
      .withColumn("adc", P.adcBaked(spark, pairTable, col("embedding"), col("codes")))
      .filter(col("adc").cast("double") <= lit(P.RadiusE6 / 1e6))
      .withWatermark(tsCol, "1 hour")
      .dropDuplicatesWithinWatermark("q_id", "nb_id")
      .select(col("q_id"), col("nb_id"),
        round(col("adc").cast("double"), 6).as("adc"))
  }

  /** Streaming probe of the PERSISTED inverted index (r10 — the
    * indexProbeStream lineage applied to the lexical tier, D91b/D91c):
    * each arriving document's distinct terms are exploded statelessly,
    * gated by the STORED df table pre-filtered to the rare set (df ≤
    * N·maxDfBp/10⁴ — a static frame bounded by the rare vocabulary, so
    * the stream-static equality join on term touches only rare posting
    * lists, the same fan-out gate the batch radius applies), then joined
    * against the tombstone-aware postings and cut by the single-term
    * impact radius — a pure per-row predicate over BAKED collection
    * stats (two longs as literals, the codebook-literal pattern), with
    * NO aggregation state. The only state is the within-watermark
    * (q, nb) pair dedup that collapses multi-term hits — bounded by
    * emitted pairs inside the horizon, never by the corpus or the batch.
    * Output rows are identical to the batch radius over the same index
    * (`Lexical.lexRadiusFromStore`; StreamingSpec pins set-equality).
    */
  def lexRadiusStream(spark: SparkSession, indexTable: String,
                      docs: DataFrame, tsCol: String): DataFrame = {
    val L = graft.llm.Lexical
    val st = graft.sources.BucketedSink.heldRows(spark, indexTable + "_stats").head
    val (n, total) = (st.getLong(0), st.getLong(1))
    val maxDf = n * L.MaxDfBp / 10000
    val rare = spark.table(indexTable + "_df").filter(col("df") <= maxDf)
    val post = graft.sources.BucketedSink
      .readServing(spark, indexTable, "doc_id")
      .select(col("doc_id").as("nb_id"), col("term"), col("len"), col("tf"))
    docs
      .select(col("doc_id").as("q_id"), col(tsCol),
        explode(array_distinct(graft.llm.TextOps.toks(col("text")))).as("term"))
      .join(rare, Seq("term"))
      .join(post, Seq("term"))
      .filter(col("q_id") =!= col("nb_id"))
      .filter(L.contribE10(n, total) >= lit(L.RadiusE4.toLong) * 1000000L)
      .withWatermark(tsCol, "1 hour")
      .dropDuplicatesWithinWatermark("q_id", "nb_id")
      .select(col("q_id"), col("nb_id"))
  }

  /** Streaming TOP-K probe of the PERSISTED inverted index (r11 — the
    * serving family's last streaming corner: the radius form streamed
    * since r10, the ranking form didn't). Top-k is a RANK over each
    * query's candidate set, which append-mode streaming cannot express
    * statelessly — so this is the per-micro-batch recipe (Spark's
    * documented foreachBatch pattern for batch-only operators): the
    * streaming graph carries ONLY the watermark + within-watermark query
    * dedup (redelivery protection — state bounded by DISTINCT arrived
    * query docs inside the horizon, never by candidates), and each
    * micro-batch ranks its arrived queries against the static index
    * through the exact batch probe plan (`Lexical.lexTopkForQueries`:
    * the micro-batch's query terms collected to the driver — one job per
    * micro-batch, the job their broadcast ran — and cut rare-first there,
    * candidate scan touching only the probed posting lists, salted
    * two-phase top-k). Per-arrived-query output rows are byte-identical
    * to the batch D91b probe — LexicalSpec pins
    * parity, StreamingSkewSpec pins the redelivery burst + state ceiling.
    *
    * OUT-OF-VOCABULARY semantics (r12, documented like the positional
    * index's): query terms come from the ARRIVING doc's text but join the
    * index's PINNED `_df` table, so a term absent from the build-time
    * vocabulary is silently dropped from the query — an arriving doc
    * whose vocabulary is entirely post-build retrieves ZERO rows. This is
    * the pinned-statistics discipline's cost on the streaming ranking
    * path (the more reachable case than the positional probe): a stale
    * index degrades arriving-query recall, and the operational signal is
    * the stored `_df` growing stale vs `bpe_coverage`-style vocabulary
    * drift gauges — re-ingest (rebuild or appendLexDocs, which extends
    * postings but NOT `_df`, exactly like segment-based lexical engines
    * between merges) to refresh the vocabulary.
    *
    * `sink` receives each micro-batch's ranked frame (the foreachBatch
    * contract); the returned query is already started with an
    * AvailableNow trigger and a scratch checkpoint — callers
    * processAllAvailable()/stop() it (the runToMemory discipline). Pass
    * `checkpoint` for a durable location; the default scratch dir is
    * registered for JVM-exit cleanup (TempDirs — the r11 temp-litter
    * advice item).
    */
  def lexTopkStream(spark: SparkSession, indexTable: String, docs: DataFrame,
                    tsCol: String, checkpoint: Option[String] = None)
                   (sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val cp = checkpoint.map(java.nio.file.Paths.get(_))
      .getOrElse(TempDirs.scratch("graft-lex-topk-cp"))
    docs
      .select(col("doc_id"), col("text"), col(tsCol))
      .withWatermark(tsCol, "1 hour")
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"), col("text"))
      .writeStream
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", cp.toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(graft.llm.Lexical.lexTopkForQueries(spark, indexTable, batch))
      }
      .start()
  }

  /** Streaming TOP-K probe of the PERSISTED embedding index (r11 — the
    * vector twin of lexTopkStream, completing the serving matrix's
    * streaming corner: radius forms streamed since r9/r10, now both
    * ranking forms do too). Same foreachBatch recipe: the streaming
    * graph carries ONLY the watermark + within-watermark query-vector
    * dedup, and each micro-batch ranks its arrivals through the exact
    * batch D53 probe plan (`Ann.annTopkForQueries` — the micro-batch's
    * vectors collected to the driver with their hyperplane buckets, one
    * job per micro-batch as their broadcast ran, and looked up by bucket
    * inside the bucketed index scan, codegen'd dot fold, top-5).
    * Per-arrived-vector output rows are byte-identical to the batch
    * probe; specs pin parity and the redelivery burst + state ceiling.
    * Checkpoint convention as lexTopkStream: caller-provided or a
    * JVM-exit-cleaned scratch dir.
    */
  def annTopkStream(spark: SparkSession, indexTable: String, vecs: DataFrame,
                    tsCol: String, checkpoint: Option[String] = None)
                   (sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val cp = checkpoint.map(java.nio.file.Paths.get(_))
      .getOrElse(TempDirs.scratch("graft-ann-topk-cp"))
    vecs
      .select(col("vec_id"), col("embedding"), col(tsCol))
      .withWatermark(tsCol, "1 hour")
      .dropDuplicatesWithinWatermark("vec_id")
      .select(col("vec_id"), col("embedding"))
      .writeStream
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", cp.toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(graft.llm.Ann.annTopkForQueries(spark, indexTable, batch))
      }
      .start()
  }

  /** E7 stream-stream interval join (click attribution): each purchase
    * pairs with every same-user click in the preceding hour. BOTH sides
    * carry event-time watermarks and the join predicate carries the time
    * range, which is exactly what lets Spark BOUND the buffered state of
    * an unbounded self-join: clicks evict once the purchase-side watermark
    * passes click_ts + 1 h, purchases once the click-side watermark passes
    * purchase_ts — without the range condition the state store would grow
    * forever. Inner join → append mode; state keyed by user_id (the same
    * clustering the batch twin shuffles on).
    */
  def clickAttributionStream(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").cast("timestamp").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").cast("timestamp").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
  }

  case class TransState(tsUs: Long, eventId: Long, eventType: String)
  case class TransOut(user_id: Long, from_type: String, to_type: String,
                      ts: Timestamp)

  /** Streaming twin of the batch transition extraction
    * (`Behavior.transitionPairsOf` — the rows `event_transitions`
    * aggregates into the Markov matrix): emits each consecutive
    * (from → to) step per user as it happens. State is ONE small struct
    * per user (the last-seen event), O(|users|) and advance-only: within
    * a micro-batch events apply in (ts, event_id) order — the batch tie
    * rule — and a cross-batch late event older than the stored last event
    * is ignored rather than rewriting already-emitted steps (same policy
    * as the streaming as-of / SCD2 twins). Downstream, the matrix itself
    * is a streaming aggregation over these rows.
    */
  def transitionsStream(events: Dataset[Event]): Dataset[TransOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, TransOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[Event], state: GroupState[TransState]) =>
          val sorted = it.toSeq.sortBy(e => (microsOf(e.ts), e.event_id))
          var last = state.getOption
          val out = Seq.newBuilder[TransOut]
          sorted.foreach { e =>
            val us = microsOf(e.ts)
            val advances = last.forall(s =>
              s.tsUs < us || (s.tsUs == us && s.eventId < e.event_id))
            if (advances) {
              last.foreach(s => out += TransOut(user, s.eventType, e.event_type, e.ts))
              last = Some(TransState(us, e.event_id, e.event_type))
            }
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** Stream-static enrichment join: the static dim side is read per
    * micro-batch and broadcast; no stream state. The standard shape for
    * attaching slowly-changing metadata (user→nation here) to an event
    * stream.
    */
  def enrichWithUserDim(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(
      broadcast(customers.select(col("c_custkey").as("user_id"),
        col("c_nationkey").as("user_nationkey"))),
      Seq("user_id"), "left")

  /** Run a stream to completion against a static parquet dir via the memory
    * sink (used by specs and as the reference harness for stream correctness).
    */
  def runToMemory(spark: SparkSession, streamed: DataFrame, name: String,
                  mode: OutputMode = OutputMode.Append): DataFrame = {
    val q = streamed.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }
}
