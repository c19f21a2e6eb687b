package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.{Convert, FramePool, OperatorCaches}

/** Structured Streaming surface over the events shape
  * (`event_id, ts, user_id, event_type, value`): windowed aggregation with
  * watermarked late-data handling, and stateful sessionization via
  * mapGroupsWithState.
  *
  * The transforms are defined once and work on BOTH batch and streaming
  * DataFrames (Spark's unified semantics); q13/q14 are the batch twins the
  * DuckDB oracle checks, and StreamingSpec drives the same logic through a
  * real file-source stream with Trigger.AvailableNow.
  */
object EventStreams {

  /** Tumbling event-time window aggregation with a watermark: counts and
    * sums per (window, event_type). At scale, state is partitioned by
    * (window, event_type) across executors and pruned by the watermark. */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** The q277 late-arrival census's ACTUATOR — close the watermark-design
    * loop: given the census frame (event_type, late_bucket_h, n_events,
    * max_late_us), derive the `withWatermark` duration that covers every
    * OBSERVED disorder horizon plus a 25% safety margin. A watermark is
    * per-stream, not per-type, so the binding horizon is the max over
    * types; the margin covers census-sample error (the census measured a
    * finite arrival history); rounding is UP to a whole second (a
    * readable duration, and rounding down could re-admit the exact
    * worst observed straggler). All arithmetic exact integer; driver
    * traffic is one long from a |types×buckets|-row frame. Spec-proven
    * both directions over an arrival stream with planted late rows: the
    * suggested bound drops none of them, a tighter bound drops exactly
    * the stragglers past it. */
  def suggestedWatermark(census: DataFrame): String = {
    val row = census.agg(max(col("max_late_us")).as("m")).head()
    val maxUs = if (row.isNullAt(0)) 0L else row.getLong(0)
    val withMargin = maxUs + maxUs / 4
    val secs = (withMargin + 999999L) / 1000000L
    s"$secs seconds"
  }

  /** Streaming exact dedup: drop events whose `keys` were already seen,
    * with state pruned by the event-time watermark
    * (dropDuplicatesWithinWatermark) — the streaming twin of the batch
    * exact-dedup operator (Dedup.exact / dropDuplicates). State is the
    * seen-key set within the watermark horizon, partitioned by key. */
  def dedupStream(events: DataFrame, keys: Seq[String],
                  watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)

  /** Watermarked stream-stream interval join (the attribution shape):
    * purchases joined to same-user views in the preceding hour. Inputs
    * must expose (p_user, purchase_id, p_ts) and (v_user, view_id, v_ts).
    * Both sides carry event-time watermarks plus the time-range join
    * condition, so Spark can bound the join state: a buffered view is
    * droppable once the watermark passes v_ts + 1h. Batch twin: q47. */
  def attributionJoin(purchases: DataFrame, views: DataFrame,
                      watermark: String = "2 hours"): DataFrame = {
    val p = purchases.withWatermark("p_ts", watermark)
    val v = views.withWatermark("v_ts", watermark)
    p.join(v,
      expr("p_user = v_user AND v_ts >= p_ts - INTERVAL 1 HOUR AND v_ts <= p_ts"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("view_id"))
  }

  /** LEFT OUTER watermarked stream-stream interval join: every purchase
    * emits, with null view columns when no same-user view preceded it
    * within the hour (the unattributed-conversion shape). Semantics the
    * outer side adds on a STREAM: a purchase can only be declared
    * view-less once no qualifying view can still arrive, so the null-side
    * rows are emitted when the watermark passes the purchase's join
    * window (p_ts, i.e. the upper bound of qualifying v_ts) — inner
    * matches stream out immediately, outer rows trail the watermark.
    * Batch twin: the same join condition with "left_outer", which
    * StreamingSpec compares against (modulo the watermark-tail rows a
    * finite stream can never finalize — the spec pushes the watermark
    * with a sentinel so the comparable set is total). */
  def attributionJoinLeftOuter(purchases: DataFrame, views: DataFrame,
                               watermark: String = "2 hours"): DataFrame = {
    val p = purchases.withWatermark("p_ts", watermark)
    val v = views.withWatermark("v_ts", watermark)
    p.join(v,
      expr("p_user = v_user AND v_ts >= p_ts - INTERVAL 1 HOUR AND v_ts <= p_ts"),
      "left_outer")
      .select(col("p_user").as("user_id"), col("purchase_id"), col("view_id"))
  }

  /** Stream-static enrichment join: each micro-batch of the stream joins
    * a STATIC dimension table (user → segment, asset → metadata, …).
    * Stateless — no watermark needed on the static side, no join state
    * buffered; at scale the dimension broadcasts to every task exactly
    * like its batch twin (q10's broadcast-dim shape), re-resolved per
    * micro-batch so a refreshed dim path picks up new snapshots. */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    joinKey: String): DataFrame =
    events.join(broadcast(dim), Seq(joinKey), "left")

  /** Streaming CDC apply: each micro-batch UPSERTS into a parquet-
    * resident base via `foreachBatch` + [[graft.operators.Snapshots.upsert]]
    * — last write per key wins. Within one micro-batch, the winner per
    * key is the max of `seqCol` when given (the production CDC contract:
    * a change-sequence / LSN column); without one, duplicate keys in a
    * single batch reduce arbitrarily (documented, not silent: multiple
    * same-key records in one batch have no order to honor).
    *
    * Without a transactional table format the merge rewrites the base:
    * the new generation is written to a staging dir and swapped in via
    * `Files.move` only after the write succeeds (move base→.old, then
    * staging→base, then drop .old). A crash between the moves is
    * RECOVERED on replay: a missing base with a surviving `.old` is
    * restored before merging, so no generation is ever lost. Rewrite
    * cost is proportional to the BASE, so this fits dimension/state
    * tables, not the 100 TB fact store — there, partition the base and
    * rewrite only the partitions a batch touches (or use a transactional
    * format). Returns the started query; await it to drain
    * (Trigger.AvailableNow for bounded input). */
  def upsertSink(stream: DataFrame, keyCols: Seq[String], baseDir: String,
                 checkpointDir: String,
                 seqCol: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    mergeIntoBase(stream, keyCols, baseDir, checkpointDir, seqCol, opCol = None)

  /** [[upsertSink]] with TOMBSTONES: each micro-batch is a changelog
    * (rows carry `opCol` — "D" deletes the key, anything else
    * replaces-or-inserts) applied via [[graft.operators.Snapshots
    * .applyChangelog]] semantics. Same crash-safe stage-swap, same
    * per-batch latest-per-key reduction; the Debezium-shaped ingest
    * path ([[upsertSink]] can only grow or rewrite, never drop). */
  def changelogSink(stream: DataFrame, keyCols: Seq[String], baseDir: String,
                    checkpointDir: String, opCol: String = "op",
                    seqCol: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    mergeIntoBase(stream, keyCols, baseDir, checkpointDir, seqCol, Some(opCol))

  private def mergeIntoBase(stream: DataFrame, keyCols: Seq[String],
                            baseDir: String, checkpointDir: String,
                            seqCol: Option[String],
                            opCol: Option[String]): StreamingQuery =
    everyBatch(stream, checkpointDir) { (spark, batch, _) =>
      // reduce the batch to one record per key (max seqCol when given)
      val reduced = seqCol match {
        case Some(sc) =>
          val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(sc).desc)
          batch.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
        case None => batch.dropDuplicates(keyCols)
      }
      promote(baseDir) { staging =>
        // apply tombstones (changelog mode) or plain upsert; an empty
        // base is the same merge against zero rows, so first-batch
        // deletes of unknown keys are no-ops, not errors
        val base =
          if (Files.exists(Paths.get(baseDir))) Some(spark.read.parquet(baseDir))
          else None
        val merged = opCol match {
          case Some(oc) =>
            val survivors = reduced.filter(upper(col(oc)) =!= lit("D"))
              .drop(oc).drop(seqCol.toSeq: _*)
            base.fold(survivors)(_.join(reduced.select(keyCols.map(col): _*),
              keyCols, "left_anti").unionByName(survivors))
          case None =>
            base.fold(reduced)(graft.operators.Snapshots.upsert(_, reduced, keyCols))
        }
        merged.write.mode("overwrite").parquet(staging)
      }
    }

  /** The one micro-batch runner under every sink: a file-checkpointed
    * `Trigger.AvailableNow` query whose `foreachBatch` runs `body` on
    * (session, batch, batch id), then `release` in `finally`. The
    * releases are JVM-global, so each sink passes only what its own
    * batches build (see [[releaseCaches]], [[releasePools]]). */
  private def everyBatch(stream: DataFrame, checkpointDir: String,
                         release: () => Unit = () => ())
                        (body: (SparkSession, DataFrame, Long) => Unit)
      : StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        try body(batch.sparkSession, batch, batchId) finally release()
      }
      .start()

  /** Per-batch release of the operator caches a batch's operators
    * persisted — a long-running sink would otherwise accumulate them for
    * every batch it ever saw. */
  private val releaseCaches: () => Unit = () => OperatorCaches.release()

  /** [[releaseCaches]] plus the frame pool: the pool keys frames by
    * corpus plan, and a stream's batches are each a distinct corpus, so
    * a sink whose operators pool releases per batch rather than letting
    * entries ride LRU eviction. */
  private val releasePools: () => Unit = () => {
    OperatorCaches.release()
    FramePool.release()
  }

  /** The one monitor shape: each batch overwrites its partial frames at
    * `stateDir[/sub]/batch=N` (an at-least-once replay overwrites its
    * own attempt instead of double-counting), then, when `report` is
    * `Some((reportDir, serve))`, overwrites `reportDir` with
    * `serve(spark)`: the merge over every partial published so far. The
    * partials are mergeable summaries, so that merge equals the batch
    * query over all arrivals. `sub` is "" for partials directly under
    * `stateDir`. */
  private def monitor(stream: DataFrame, checkpointDir: String,
                      stateDir: String, release: () => Unit = () => ())
                     (partials: DataFrame => Seq[(String, DataFrame)],
                      report: Option[(String, SparkSession => DataFrame)] = None)
      : StreamingQuery =
    everyBatch(stream, checkpointDir, release) { (spark, batch, batchId) =>
      partials(batch).foreach { case (sub, df) =>
        val dir = if (sub.isEmpty) stateDir else s"$stateDir/$sub"
        df.write.mode("overwrite").parquet(s"$dir/batch=$batchId")
      }
      report.foreach { case (reportDir, serve) =>
        serve(spark).write.mode("overwrite").parquet(reportDir)
      }
    }

  /** Replace the parquet directory `dir` with what `write` puts at the
    * staging path it is given, recovering from a crash in an earlier
    * call. A missing base with a surviving `.old` means that call died
    * between its two moves: the surviving generation is restored before
    * `write` runs (so `write` may read the base), and a leftover `.old`
    * WITH a base is a completed swap's debris, dropped. A leftover
    * `.staging` is never authoritative (it only becomes so by being
    * renamed), so it is cleared before the write. Then base → `.old`,
    * `.staging` → base, drop `.old`: NIO moves throw descriptive
    * IOExceptions, the checkpoint replays a failed batch, and the
    * recovery step handles a death between the moves. */
  private def promote(dir: String)(write: String => Unit): Unit = {
    val (base, old, staging) =
      (Paths.get(dir), Paths.get(dir + ".old"), Paths.get(dir + ".staging"))
    if (!Files.exists(base) && Files.exists(old)) Files.move(old, base)
    else Convert.deleteRecursively(old)
    Convert.deleteRecursively(staging)
    write(staging.toString)
    if (Files.exists(base)) Files.move(base, old)
    Files.move(staging, base)
    Convert.deleteRecursively(old)
  }

  /** The ids of the `prefix=N` subdirectories under `dir` (none when it
    * does not exist), the current batch id excluded: a crashed attempt
    * may have left its own partial write. */
  private def priorIds(dir: String, prefix: String, batchId: Long): Array[Long] =
    Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty)
      .flatMap(f => scala.util.Try(f.getName.stripPrefix(prefix).toLong).toOption)
      .filter(_ != batchId)

  /** What earlier batches published under `dir` (`cols` of it), the
    * current batch id excluded, then anti-joined on `cols.head` — the id
    * column — against the takedown `tombs` when given: the one corpus
    * read of the ingest sinks. None before anything was published. */
  private def priorState(spark: SparkSession, dir: String, batchId: Long,
                         cols: Seq[String], tombs: Option[DataFrame] = None)
      : Option[DataFrame] =
    if (!new java.io.File(dir).isDirectory) None
    else {
      val prior = spark.read.parquet(dir).filter(col("batch") =!= batchId)
        .select(cols.map(col): _*)
      Some(tombs.fold(prior)(prior.join(_, Seq(cols.head), "left_anti")))
    }

  /** Open a file-source stream over a directory of parquet event files —
    * the production shape for continuously-landing data. */
  def fileStream(spark: SparkSession, schema: StructType, dir: String): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Streaming index maintenance: each micro-batch of documents publishes
    * its UNFILTERED termStats partial to an APPEND-ONLY parquet dir —
    * per-batch cost is proportional to the BATCH, never the corpus, and
    * nothing is rewritten (contrast [[upsertSink]]'s base rewrite).
    * Serving stats are [[graft.operators.InvertedIndex.mergeTermStats]]
    * over the published partials ([[servingTermStats]]) — q147's merge
    * algebra, whose oracle is the full recompute. Batches must carry
    * disjoint documents (the file/CDC ingest contract); compact the
    * partials dir periodically by replacing it with its own merge. */
  def indexPartialsSink(stream: DataFrame, idCol: String, textCol: String,
                        partialsDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    // foreachBatch is at-least-once: overwriting into a per-batch subdir
    // makes a post-commit/pre-checkpoint crash replay the batch ONTO
    // ITSELF instead of appending a double-counting duplicate (a bare
    // append would silently break disjointness)
    monitor(stream, checkpointDir, partialsDir)(batch =>
      Seq("" -> graft.operators.InvertedIndex
        .termStats(batch, idCol, textCol, minDf = 1L, pooled = false)))

  /** Streaming C4-style global line dedup — the incremental form of
    * [[graft.operators.Quality.dedupLinesGlobal]] (q146): each micro-batch
    * keeps a line only at its first occurrence — within the batch the
    * min-(id, pos) winner (the batch restriction of q146's corpus rule),
    * and across batches only if no EARLIER batch published the line
    * (first-arrival wins). Kept-line fingerprint state is APPEND-ONLY
    * per-batch parquet, so per-batch cost is the batch's lines plus one
    * anti-join against the state — nothing is ever rewritten (the
    * [[indexPartialsSink]] economics). Rebuilt documents land in
    * `outDir/batch=N`.
    *
    * Replay safety (foreachBatch is at-least-once): both writes overwrite
    * their own `batch=N` subdir, and the state read EXCLUDES the current
    * batch id — a crashed attempt's partial state can never anti-join the
    * replaying batch against itself.
    *
    * When batches partition the corpus in ascending `idCol` order, the
    * union of the per-batch outputs is row-identical to the batch
    * operator on the full corpus (first-arrival == corpus-wide min
    * (id, pos)) — StreamingSpec proves it. Out-of-order arrival keeps
    * the dedup guarantee (each line survives exactly once) with
    * first-ARRIVAL rather than min-id as the keeper, the natural
    * semantics for an ingest pipeline. */
  def lineDedupSink(stream: DataFrame, idCol: String, textCol: String,
                    stateDir: String, outDir: String, checkpointDir: String,
                    sep: String = ". ")
      : org.apache.spark.sql.streaming.StreamingQuery =
    everyBatch(stream, checkpointDir) { (spark, batch, batchId) =>
      val sepRegex = java.util.regex.Pattern.quote(sep)
      val sent = batch.select(col(idCol),
        posexplode(split(col(textCol), sepRegex)).as(Seq("pos", "snt")))
      val batchWin = sent.groupBy(col("snt"))
        .agg(min(struct(col(idCol), col("pos"))).as("keep"))
        .select(col("snt"), col("keep").getField(idCol).as("__kid"),
          col("keep").getField("pos").as("__kpos"))
      val fresh = priorState(spark, stateDir, batchId, Seq("snt"))
        .fold(batchWin)(batchWin.join(_, Seq("snt"), "left_anti"))
      val kept = sent.join(fresh, "snt")
        .filter(col(idCol) === col("__kid") && col("pos") === col("__kpos"))
      val rebuilt = kept.groupBy(col(idCol))
        .agg(count(lit(1)).as("n_kept"),
          array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("snt")))),
            s => s.getField("snt")), sep).as("cleaned"))
      val counts = sent.groupBy(col(idCol)).agg(count(lit(1)).as("n_lines"))
      batch.select(col(idCol))
        .join(counts, Seq(idCol), "left")
        .join(rebuilt, Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("n_lines"), lit(0L)).as("n_lines"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("cleaned"), lit("")).as("cleaned"))
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      fresh.select(col("snt"))
        .write.mode("overwrite").parquet(s"$stateDir/batch=$batchId")
    }

  /** Prior state under `dir`, the current batch id excluded (a crashed
    * attempt may have left its own partial write) — the same replay
    * discipline as the ingest sinks' corpus reads. Shared by every
    * ops-mode sink's tombstone/pair reads. */
  private def priorBatches(spark: SparkSession, dir: String,
                           batchId: Long): Option[DataFrame] = {
    val prev = priorIds(dir, "batch=", batchId)
    if (prev.isEmpty) None
    else Some(prev.map(b => spark.read.parquet(s"$dir/batch=$b"))
      .reduce(_ unionByName _))
  }

  /** Split an ops-mode micro-batch into (adds, tombstone ids), persist
    * this batch's tombstones under `tdir/batch=N` (replay-safe
    * overwrite), and return every tombstone id ever seen — this batch's
    * included, so deletes apply BEFORE the batch's own adds dedup.
    * NULL-safe: "everything that is not a tombstone is an arriving
    * document" includes rows whose op is NULL — a plain =!= would
    * evaluate to NULL and silently drop them from BOTH branches.
    * Returns (adds, this batch's tombstones, all tombstones ever) —
    * the latter two None outside ops mode. */
  private def splitOps(batch: DataFrame, batchId: Long, opCol: String,
                       tdir: String, idCol: String, payloadCols: Seq[String])
      : (DataFrame, Option[DataFrame], Option[DataFrame]) = {
    if (opCol == null) {
      // loud guard — the INVERSE misconfiguration of the nearDup pre-ops
      // check: tombstones exist from an earlier ops-mode run but this
      // restart has opCol unset, so allTombs would be None and every
      // corpus read would silently treat taken-down docs as dedup
      // incumbents (dropping new arrivals that duplicate deleted
      // content). Fail instead: restart with opCol set, or fold the
      // tombstones physically with compactTakedowns (which drops the
      // dir) before turning ops mode off.
      if (new java.io.File(tdir).isDirectory)
        throw new IllegalStateException(
          s"ingest sink: tombstones exist under $tdir but opCol is " +
            "null — earlier batches ran in ops mode and their " +
            "takedowns would be silently ignored. Restart with opCol " +
            "set, or run compactTakedowns first.")
      (batch.select((idCol +: payloadCols).map(col): _*), None, None)
    } else {
      val adds = batch
        .filter(coalesce(col(opCol), lit("")) =!= lit("delete"))
        .select((idCol +: payloadCols).map(col): _*)
      val dels = batch.filter(col(opCol) === lit("delete")).select(col(idCol))
      dels.write.mode("overwrite").parquet(s"$tdir/batch=$batchId")
      val allTombs = priorBatches(batch.sparkSession, tdir, batchId)
        .fold(dels)(_ unionByName dels).distinct()
      (adds, Some(dels), Some(allTombs))
    }
  }

  /** Streaming near-dup ingest filter — continuous MinHash dedup of an
    * arriving crawl against the accumulated corpus (the production form
    * of q86's batch bipartite dedup): each micro-batch is first
    * deduplicated WITHIN itself (LSH pairs → connected components → keep
    * the component minimum, [[graft.operators.Dedup.applyClusters]]),
    * then AGAINST the survivors of all earlier batches via the bipartite
    * pairing ([[graft.operators.Dedup.lshPairsAgainst]] — never
    * corpus×corpus), and its survivors are published append-only as the
    * growing corpus under `corpusDir/batch=N`. Per-batch cost: the
    * batch's own pairing plus one new×corpus band join; the corpus is
    * re-banded per batch (at real scale, persist its shingle/band frames
    * in a corpus-keyed store instead — the [[indexPartialsSink]]
    * economics applied to signatures).
    *
    * Replay safety: the survivors write overwrites its own `batch=N`
    * subdir and the corpus read excludes the current batch id, so an
    * at-least-once replay can never dedup a batch against its own
    * crashed attempt. Operator caches are released per batch — a
    * long-running sink would otherwise accumulate pooled frames for
    * every batch it ever saw.
    *
    * TAKEDOWNS while ingesting (`opCol` != null): each batch row
    * carries an operation — `"delete"` rows are TOMBSTONES (id only),
    * everything else is an arriving document. Deletes apply to the
    * corpus as merge-on-read (tombstones accumulate append-only under
    * `corpusDir + "_tombstones"/batch=N` and every corpus read
    * anti-joins them — the Hudi/Iceberg position-delete economics;
    * fold them physically with a periodic compaction, exactly like
    * [[upsertSink]]'s `compact`), and apply BEFORE the batch's own
    * adds dedup, so a document whose only twin was taken down in the
    * same batch is kept. Labels need more than the epoch state: a
    * takedown can SPLIT a component (the deleted doc may be its only
    * bridge — [[graft.operators.DupGraph.delete]]'s argument), so
    * ops-mode batches also persist their discovered pairs append-only
    * (`corpusDir + "_pairs"/batch=N`); a batch containing tombstones
    * re-derives labels as CC over (accumulated pairs ∪ this batch's
    * pairs) anti-joined on both ends against ALL tombstones — a
    * pairs-sized job, never a corpus re-shingle — while add-only
    * batches keep the cheap incremental contract-and-merge fold.
    * StreamingSpec proves interleaved append+delete labels equal the
    * batch rebuild over the surviving arrivals, including a planted
    * bridge split mid-stream. Deleted ids must not be re-used by later
    * arrivals (a tombstone is forever — the merge-on-read anti-join
    * would silently drop the newcomer). Scope: a takedown removes the
    * STORED survivor; near-duplicates it suppressed in earlier batches
    * were never stored (the ingest filter drops their text on arrival)
    * and cannot be resurrected — the post-takedown corpus therefore
    * equals a rebuild over surviving STORED docs, not over all
    * surviving arrivals. A deployment that must resurrect suppressed
    * twins after a keeper's takedown has to archive dropped arrivals
    * (id → text) alongside the corpus; the LABEL stream needs no such
    * archive — labels cover every arrival and are rebuild-equal, which
    * is what StreamingSpec proves. */
  def nearDupIngestSink(stream: DataFrame, idCol: String, textCol: String,
                        corpusDir: String, checkpointDir: String,
                        numBands: Int = 4, minJaccard: Double = 0.1,
                        k: Int = 3, rowsPerBand: Int = 2,
                        labelsDir: String = null,
                        opCol: String = null)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // LIVE cluster labels over every arrival ever streamed, maintained
    // INCREMENTALLY (Dedup.incrementalClusters — existing clusters
    // contract to supernodes, CC runs only on the batch's new pairs):
    // the streaming half of the DupGraph artifact lifecycle. Labels are
    // epoch-versioned (`epoch=N` = the complete labeling AFTER folding
    // batch N; readers take the highest epoch) because a labeling is a
    // whole-graph property — a merge relabels old docs — unlike the
    // append-only survivor corpus. Replay-safe twice over: the epoch
    // read excludes the current batch id, and re-folding an
    // already-folded batch is an identity (see incrementalClusters).
    val ldir = Option(labelsDir).getOrElse(
      corpusDir.stripSuffix("/") + "_labels")
    val tdir = corpusDir.stripSuffix("/") + "_tombstones"
    val pdir = corpusDir.stripSuffix("/") + "_pairs"
    everyBatch(stream, checkpointDir, releasePools) { (spark, batch, batchId) =>
      import graft.operators.Dedup
      val hasOps = opCol != null
      // [[splitOps]]: NULL-safe add/tombstone split, this batch's
      // tombstones persisted, allTombs includes this batch's — so
      // deletes apply BEFORE the adds dedup
      val (adds, dels, allTombs) =
        splitOps(batch, batchId, opCol, tdir, idCol, Seq(textCol))
      val hasDels = dels.exists(!_.isEmpty)
      val pairs = Dedup.lshPairs(adds, idCol, textCol,
        numBands, minJaccard, k, rowsPerBand)
      val batchKept = Dedup.applyClusters(adds, idCol,
        Dedup.dupClusters(pairs))
      val cross = priorState(spark, corpusDir, batchId, Seq(idCol, textCol),
        allTombs).map(Dedup.lshPairsAgainst(batchKept, _,
          idCol, textCol, numBands, minJaccard, k, rowsPerBand))
      val survivors = cross.fold(batchKept)(c => batchKept.join(
        c.select(col("new_id").as(idCol)).distinct(), Seq(idCol), "left_anti"))
      survivors.select(col(idCol), col(textCol))
        .write.mode("overwrite").parquet(s"$corpusDir/batch=$batchId")
      // fold this batch's discovered pairs (within-batch + cross)
      // into the live labeling
      // the current batch id is EXCLUDED from the read (a crashed
      // attempt may have left its own partial epoch) but the epoch
      // it read FROM is never deleted in this batch — a replay after
      // a crash anywhere in this body still finds it intact; only
      // epochs already superseded when this batch STARTED are GC'd
      val prevEpochs = priorIds(ldir, "epoch=", batchId)
      val prev = if (prevEpochs.isEmpty) None
        else Some(spark.read.parquet(s"$ldir/epoch=${prevEpochs.max}"))
      val newPairs = cross.map(_.select(col("new_id").as("a_id"),
        col("corpus_id").as("b_id")))
        .foldLeft(pairs.select(col("a_id"), col("b_id")))(_ unionByName _)
      // loud guard, checked on EVERY ops batch (not just delete
      // batches — detection must fire at the first ops batch, or an
      // ops add-only batch would create pair history and mask the
      // gap from a later takedown): label epochs from earlier
      // batches exist but no pair history does — those batches ran
      // with opCol=null, so a future takedown's re-derivation would
      // silently recompute labels from a truncated pair history and
      // drop every component discovered pre-ops. opCol must be set
      // from the stream's FIRST batch (ops-mode batches always
      // write a — possibly empty — pairs frame, so a healthy ops
      // history always has prior batch dirs here). Checked BEFORE
      // this batch's own pairs write, which would otherwise mask
      // the gap from a replay of this very batch.
      if (hasOps && prevEpochs.nonEmpty &&
          priorBatches(spark, pdir, batchId).isEmpty)
        throw new IllegalStateException(
          s"nearDupIngestSink: label epochs exist under $ldir " +
            s"but no prior pair batches under $pdir — earlier " +
            "batches ran without opCol; takedown label " +
            "re-derivation would drop pre-ops components. " +
            "Set opCol from the stream's first batch.")
      // ops mode persists each batch's pair stream append-only: a
      // future takedown re-derives labels from the residual pairs
      // (a pairs-sized state, bounded by the bucket caps — never
      // corpus²)
      if (hasOps) newPairs.write.mode("overwrite")
        .parquet(s"$pdir/batch=$batchId")
      val labeled =
        if (hasDels) {
          // a takedown can split a component (the deleted doc may
          // be its only bridge), which no label filter can express:
          // re-run CC over every surviving pair ever discovered
          val residual = priorBatches(spark, pdir, batchId)
            .fold(newPairs)(_ unionByName newPairs)
            .join(allTombs.get.select(col(idCol).as("a_id")),
              Seq("a_id"), "left_anti")
            .join(allTombs.get.select(col(idCol).as("b_id")),
              Seq("b_id"), "left_anti")
            .select(col("a_id"), col("b_id"))
          Dedup.dupClustersStar(residual)
        } else Dedup.incrementalClusters(prev, newPairs)
      labeled.write.mode("overwrite").parquet(s"$ldir/epoch=$batchId")
      prevEpochs.filter(e => e < prevEpochs.max)
        .foreach(e => Convert.deleteRecursively(Paths.get(s"$ldir/epoch=$e")))
    }
  }

  /** Streaming CONTAINMENT ingest filter — the subset/quotation axis of
    * [[nearDupIngestSink]]: an arriving document is dropped when ≥
    * `minContainment` of its shingles already exist in ONE other document
    * (a chunk of an already-held page, a quoted reply, boilerplate
    * inclusion — cases whose Jaccard stays low because the union is
    * large). Within each micro-batch the keep rule must be acyclic, so a
    * doc is dropped only when its container is STRICTLY larger (or equal-
    * sized with a smaller id); against the accumulated corpus the SAME
    * size rule applies with the incumbent winning ties — an arrival
    * drops only when its corpus container is at least as large
    * (n_new ≤ n_corpus). An arrival that is a richer SUPERSET of held
    * content (shared mass ≥ 0.8 of its shingles but n_new > n_corpus)
    * is kept, matching the batch Refinery rule — dropping it would
    * discard the richer document in favor of its own fragment.
    * Survivors are published append-only under
    * `corpusDir/batch=N` with the same replay safety as the near-dup
    * sink (overwrite own batch dir, corpus read excludes the current
    * batch id). Per-batch cost is the bipartite posting join of
    * [[graft.operators.Dedup.containmentAgainst]] — batch×corpus shared
    * shingles, never corpus×corpus.
    *
    * TAKEDOWNS (`opCol` != null): identical merge-on-read discipline to
    * [[nearDupIngestSink]] — `"delete"` rows are id-only tombstones,
    * accumulated append-only under `corpusDir + "_tombstones"/batch=N`;
    * every corpus read (this sink's and any external reader's)
    * anti-joins them, and they apply BEFORE the batch's own containment
    * filter, so an arrival whose only container was taken down in the
    * same batch is kept. No label/pair state exists here, so a takedown
    * needs no re-derivation — the post-takedown corpus equals a rebuild
    * over surviving STORED docs (StreamingSpec proves it). Fold
    * physically with [[compactTakedowns]]. Deleted ids must not be
    * re-used by later arrivals (a tombstone is forever). */
  def containmentIngestSink(stream: DataFrame, idCol: String, textCol: String,
                            corpusDir: String, checkpointDir: String,
                            k: Int = 3, minContainment: Double = 0.8,
                            opCol: String = null)
      : org.apache.spark.sql.streaming.StreamingQuery =
    everyBatch(stream, checkpointDir, releasePools) { (spark, batch, batchId) =>
      import graft.operators.Dedup
      val tdir = corpusDir.stripSuffix("/") + "_tombstones"
      val (adds, _, allTombs) =
        splitOps(batch, batchId, opCol, tdir, idCol, Seq(textCol))
      val within = Dedup.containmentPairs(adds, idCol, textCol,
        k, minContainment)
        .filter(col("na") < col("nb") ||
          (col("na") === col("nb") && col("a_id") > col("b_id")))
        .select(col("a_id").as(idCol)).distinct()
      val batchKept = adds.join(within, Seq(idCol), "left_anti")
      val survivors = priorState(spark, corpusDir, batchId,
          Seq(idCol, textCol), allTombs).fold(batchKept) { corpus =>
        val contained = Dedup.containmentAgainst(batchKept, corpus,
          idCol, textCol, k, minContainment)
          // incumbent-aware size rule: drop the arrival only when
          // the corpus container is at least as large (ids are
          // namespaced by side, so arrival order — not id — is
          // the tie-break: incumbent wins)
          .filter(col("n_new") <= col("n_corpus"))
          .select(col("new_id").as(idCol)).distinct()
        batchKept.join(contained, Seq(idCol), "left_anti")
      }
      survivors.select(col(idCol), col(textCol))
        .write.mode("overwrite").parquet(s"$corpusDir/batch=$batchId")
    }

  /** Streaming SEMANTIC (embedding) near-dup ingest filter — the
    * [[nearDupIngestSink]] economics on the embedding axis: each
    * micro-batch of vectors is deduplicated within itself (SRP-banded
    * cosine pairs → connected components → keep the component minimum)
    * and against earlier batches' survivors
    * ([[graft.operators.Similarity.embeddingNearDupAgainst]] — never
    * corpus×corpus), survivors published append-only under
    * `corpusDir/batch=N`. Same replay-safety contract (overwrite own
    * subdir, exclude own batch id from the corpus read) and per-batch
    * cache release. `planes` must be the same literals across batches —
    * they ARE the index; changing them re-buckets the world.
    *
    * TAKEDOWNS (`opCol` != null): identical merge-on-read discipline to
    * [[nearDupIngestSink]] — `"delete"` rows are id-only tombstones
    * under `corpusDir + "_tombstones"/batch=N`, anti-joined by every
    * corpus read and applied BEFORE the batch's cross-dedup (an arrival
    * whose only semantic twin was taken down in the same batch is
    * kept). No label state here, so no re-derivation; fold physically
    * with [[compactTakedowns]]. Deleted ids are never re-usable. */
  def embeddingIngestSink(stream: DataFrame, idCol: String, vecCol: String,
                          corpusDir: String, checkpointDir: String,
                          planes: Seq[Array[Double]], planesPerBand: Int,
                          minCos: Double, opCol: String = null)
      : org.apache.spark.sql.streaming.StreamingQuery =
    everyBatch(stream, checkpointDir, releasePools) { (spark, batch, batchId) =>
      import graft.operators.{Dedup, Similarity}
      val tdir = corpusDir.stripSuffix("/") + "_tombstones"
      val (adds, _, allTombs) =
        splitOps(batch, batchId, opCol, tdir, idCol, Seq(vecCol))
      val pairs = Similarity.embeddingNearDupPairs(adds, idCol, vecCol,
        blockCols = Nil, planes, planesPerBand, minCos)
      val batchKept = Dedup.applyClusters(adds, idCol,
        Dedup.dupClusters(pairs))
      val survivors = priorState(spark, corpusDir, batchId,
          Seq(idCol, vecCol), allTombs).fold(batchKept) { corpus =>
        val dupped = Similarity.embeddingNearDupAgainst(batchKept,
          corpus, idCol, vecCol, Nil, planes, planesPerBand, minCos)
          .select(col("new_id").as(idCol)).distinct()
        batchKept.join(dupped, Seq(idCol), "left_anti")
      }
      survivors.select(col(idCol), col(vecCol))
        .write.mode("overwrite").parquet(s"$corpusDir/batch=$batchId")
    }

  /** Streaming token-drift monitor — the production form of q160: each
    * micro-batch's token counts are compared against the ACCUMULATED
    * corpus counts (the "did the crawl change under us" alarm, evaluated
    * continuously at ingest instead of once at snapshot time), and the
    * top drifting tokens are published as `reportDir/batch=N`. History is
    * never re-tokenized: the state under `stateDir/batch=K` is the
    * per-batch `(tok, c)` count partial — vocabulary-sized — and the
    * accumulated side is their sum at read. Replay-safe like the other
    * ingest sinks (own batch dir overwritten; accumulated read excludes
    * the current batch id). First batch has no baseline → no report. */
  def driftMonitorSink(stream: DataFrame, textCol: String,
                       stateDir: String, reportDir: String,
                       checkpointDir: String, minTotal: Long = 50L,
                       topN: Int = 30)
      : org.apache.spark.sql.streaming.StreamingQuery =
    everyBatch(stream, checkpointDir, releaseCaches) { (spark, batch, batchId) =>
      import graft.operators.CorpusStats
      val batchCounts = CorpusStats.tokenCounts(batch, textCol)
      priorState(spark, stateDir, batchId, Seq("tok", "c")).foreach { prior =>
        val corpusCounts = prior.groupBy("tok").agg(sum("c").as("c"))
        // gate on the FILTERED baseline, not the directory: a batch-0
        // replay (state written, checkpoint uncommitted) would
        // otherwise report batch-vs-nothing — every token phantom-
        // drifting against an empty corpus
        if (!corpusCounts.isEmpty)
          CorpusStats.tokenDriftFromCounts(
            batchCounts, corpusCounts, minTotal, topN)
            .write.mode("overwrite").parquet(s"$reportDir/batch=$batchId")
      }
      batchCounts
        .write.mode("overwrite").parquet(s"$stateDir/batch=$batchId")
    }

  /** Streaming event-rate anomaly monitor — the production form of q163:
    * hourly count partials accumulate per batch (`stateDir/batch=N`,
    * spine-sized), and after each batch the trailing-24h 2σ flags are
    * recomputed over the merged spine and published to `reportDir`
    * (overwrite — the report is hours-not-events sized). The exact
    * integer arithmetic is q163's squared z-condition verbatim, so the
    * streamed report equals the batch query over the union of all
    * arrived events (spec-proven). */
  def anomalyMonitorSink(stream: DataFrame, tsCol: String,
                         stateDir: String, reportDir: String,
                         checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    monitor(stream, checkpointDir, stateDir)(
      batch => Seq("" -> batch.groupBy(date_trunc("hour", col(tsCol)).as("h"))
        .agg(count(lit(1)).as("c"))),
      Some(reportDir -> (spark => graft.operators.Transforms.eventAnomalyFlags(
        spark.read.parquet(stateDir).groupBy("h").agg(sum("c").as("c"))))))

  /** The queryable index stats over everything [[indexPartialsSink]] has
    * published so far (the `batch` partition key exists for replay
    * idempotence, not for the stats — dropped here). */
  def servingTermStats(spark: SparkSession, partialsDir: String,
                       minDf: Long = 2L): DataFrame =
    graft.operators.InvertedIndex.mergeTermStats(
      Seq(spark.read.parquet(partialsDir).drop("batch")), minDf)

  /** Streaming per-source KMV sketch maintenance — q187's corpus-overlap
    * sketch kept fresh incrementally: each micro-batch publishes its own
    * bounded partial (`stateDir/batch=N`, ≤ sketchK rows per source per
    * batch — the only state that ever lands) and the serving sketch is
    * the k-min merge of the partials. KMV's order-statistic
    * mergeability (CorpusStats.mergeKmvSketches) makes the merged
    * sketch EQUAL to the batch sketch over the union of all arrived
    * documents — spec-proven, never approximate — and history is never
    * re-shingled. */
  def kmvSketchSink(stream: DataFrame, srcCol: String, textCol: String,
                    stateDir: String, checkpointDir: String,
                    k: Int = 3, sketchK: Int = 256)
      : org.apache.spark.sql.streaming.StreamingQuery =
    monitor(stream, checkpointDir, stateDir, releaseCaches)(batch =>
      Seq("" -> graft.operators.CorpusStats
        .kmvSourceSketch(batch, srcCol, textCol, k, sketchK)))

  /** The queryable per-source sketch over everything [[kmvSketchSink]]
    * has published: dedup + source-keyed re-rank of the partials. */
  def servingSourceSketch(spark: SparkSession, stateDir: String,
                          sketchK: Int = 256): DataFrame =
    graft.operators.CorpusStats.mergeKmvSketches(
      spark.read.parquet(stateDir).select(col("source"), col("h")), sketchK)

  /** Streaming priority-sample maintenance — q237's production form:
    * each micro-batch publishes its OWN top-(k+1) priority rows
    * (bounded state, k+1 rows per batch), and the serve-time merge is
    * one top-(k+1) over the partials. Exact because the selection is
    * MERGE-CLOSED over any partition of the stream — every member of
    * the global top-(k+1) is necessarily in its own batch's top-(k+1)
    * (the KMV k-minima argument, on the priority axis). The streamed
    * sample, threshold, and HT estimates are therefore spec-proven
    * EQUAL to the batch [[graft.operators.PrioritySample.sampleWithTau]]
    * over the union of all arrivals: a live corpus keeps ONE k-row
    * always-current weighted sample, and every ad-hoc subset-total
    * question is answered from it without scanning history. */
  def prioritySampleSink(stream: DataFrame, keyCol: String,
                         wCentsCol: String, stateDir: String,
                         checkpointDir: String, k: Int = 256)
      : org.apache.spark.sql.streaming.StreamingQuery =
    monitor(stream, checkpointDir, stateDir, releaseCaches)(batch =>
      Seq("" -> graft.operators.PrioritySample
        .withPriority(batch, col(keyCol), col(wCentsCol))
        .orderBy(desc("__prio"), asc("__key")).limit(k + 1)
        .select(col("__key"), col("__w_c"), col("__prio"))))

  /** The queryable (sample, τ) pair over everything
    * [[prioritySampleSink]] has published. */
  def servingPrioritySample(spark: SparkSession, stateDir: String,
                            k: Int = 256): (DataFrame, DataFrame) =
    graft.operators.PrioritySample.sampleWithTau(
      spark.read.parquet(stateDir), k)

  /** Physically fold an ingest sink's merge-on-read tombstones — the
    * compaction [[nearDupIngestSink]]'s (and [[containmentIngestSink]]/
    * [[embeddingIngestSink]]'s) Scaladoc promises: rewrite the survivor
    * corpus to live rows only (one fresh `batch=-1` dir — an id no
    * stream batch can take, so a restart with a lost checkpoint whose
    * first micro-batch runs as batchId=0 can neither hide nor
    * overwrite the compacted data), prune tombstone-touching pairs
    * from the pair state (when the sink keeps one), and DROP the
    * tombstone dirs, so subsequent corpus reads pay no anti-join and
    * state stops growing with takedown history. Same crash discipline
    * as [[graft.operators.Layout.compact]] ([[graft.operators.Layout
    * .swapIn]]): staged `.new` write, swap through `.old`, refuse to run
    * if a previous swap crashed midway.
    * Run only while the ingest stream is STOPPED (the swap is not
    * concurrent-safe); the stream resumes cleanly afterwards — batch
    * ids keep counting from the checkpoint, and the corpus/pairs reads
    * treat the compacted `batch=-1` like any prior batch
    * (StreamingSpec proves post-compaction continuation). Labels need
    * no rewrite: every tombstone arrived in a delete batch, which
    * already re-derived its epoch from the residual pairs. Returns the
    * live-row count, or −1 when there was nothing to fold (no
    * tombstone dir — a takedown-free corpus is left untouched). */
  def compactTakedowns(spark: SparkSession, corpusDir: String,
                       idCol: String): Long = {
    val tdir = corpusDir.stripSuffix("/") + "_tombstones"
    val pdir = corpusDir.stripSuffix("/") + "_pairs"
    if (!Files.isDirectory(Paths.get(tdir)))
      return -1L // nothing to fold: a takedown-free corpus is a no-op
    val tombs = spark.read.parquet(tdir).select(col(idCol)).distinct()
      .localCheckpoint() // sever from tdir: it is deleted below
    val live = spark.read.parquet(corpusDir)
      .join(tombs, Seq(idCol), "left_anti")
      .drop("batch").localCheckpoint()
    // compacted data lives under batch=-1, an id no stream batch can
    // ever take (stream batch ids are ≥ 0): if the ingest stream is
    // later restarted with a fresh/lost checkpoint its first
    // micro-batch runs as batchId=0, and a compacted batch=0 would be
    // (a) hidden from dedup by the crash-replay filter
    // (batch =!= batchId) and (b) destroyed by the survivors'
    // mode(overwrite) write to corpus/batch=0
    graft.operators.Layout.swapIn(corpusDir, corpusDir + ".new",
      "compactTakedowns")(nw => live.write.parquet(s"$nw/batch=-1"))
    if (Files.isDirectory(Paths.get(pdir))) {
      val residual = spark.read.parquet(pdir)
        .join(tombs.select(col(idCol).as("a_id")), Seq("a_id"), "left_anti")
        .join(tombs.select(col(idCol).as("b_id")), Seq("b_id"), "left_anti")
        .drop("batch").localCheckpoint()
      graft.operators.Layout.swapIn(pdir, pdir + ".new",
        "compactTakedowns")(nw => residual.write.parquet(s"$nw/batch=-1"))
    }
    Convert.deleteRecursively(Paths.get(tdir))
    live.count()
  }

  /** Streaming source-balance monitor — q192's production form: each
    * micro-batch publishes its per-source token-volume partial
    * (`stateDir/batch=N`, |sources| rows), and after every batch the
    * Gini concentration report is recomputed over the MERGED volumes
    * and published to `reportDir` (overwrite — the report is one row).
    * Token sums are exact integers, so merged-partials ≡ full recompute
    * and the streamed report equals the batch q192 computation over the
    * union of all arrived documents (spec-proven). The monitor is how a
    * live ingestion pipeline watches its mixture drift toward a
    * dominant source — the alarm that triggers re-balancing — without
    * ever re-tokenizing history. */
  def sourceBalanceMonitorSink(stream: DataFrame, srcCol: String,
                               textCol: String, stateDir: String,
                               reportDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    monitor(stream, checkpointDir, stateDir)(
      batch => Seq("" -> batch.groupBy(col(srcCol).as("source"))
        .agg(sum(size(split(col(textCol), " ")).cast("long")).as("x"))),
      Some(reportDir -> (spark => graft.operators.CorpusStats.giniFromVolumes(
        spark.read.parquet(stateDir)
          .groupBy("source").agg(sum(col("x")).as("x"))))))

  /** Serve the water-filled token budget from [[sourceBalanceMonitorSink]]
    * state — q242's production form: the per-source token volumes under
    * `stateDir/batch=K` are exact integer partials, so their sum at read
    * equals the batch recompute over every arrived document, and the
    * water-filling level computed from the merged volumes IS the batch
    * q242 allocation (StreamingSpec proves streamed ≡ batch). This is
    * how a live ingestion pipeline re-derives "how much of each source
    * do we keep" after every batch without re-tokenizing history — the
    * companion dial to the Gini concentration report the sink already
    * publishes. */
  def servingTokenBudget(spark: SparkSession, stateDir: String,
                         num: Long = 9L, den: Long = 10L): DataFrame =
    graft.operators.Mixture.waterfill(
      spark.read.parquet(stateDir)
        .groupBy("source").agg(sum(col("x")).as("tokens")),
      num, den)

  /** Streaming source-modularity monitor — q206's production form: each
    * arriving batch contributes its near-dup edges (batch-internal LSH
    * pairs, plus the bipartite batch×earlier-arrivals pairs — each
    * unordered pair is discovered exactly once, when its LATER element
    * arrives, so the union over batches is the full-corpus pair set,
    * the same parity q204/DupGraphSpec prove for append ≡ rebuild; at
    * real scale it holds as long as the LSH bucket caps aren't binding,
    * the same caveat as the append path), labels endpoints with their
    * sources, and publishes per-source within/cross counter PARTIALS to
    * `stateDir/batch=N`. Counters are plain integer sums, so merged
    * partials ≡ full recompute, and [[servingModularity]] assembles the
    * exact q206 report from them through the SAME shared expression
    * tree ([[graft.operators.Graphs.modularityReport]]) — the live
    * "is this source templating internally or syndicating across
    * sources" dial, maintained without ever re-pairing history.
    * Replay-safe: arrivals land append-only under `corpusDir/batch=N`
    * (overwriting their own batch subdir), the corpus read excludes the
    * current batch id, and both writes are per-batch overwrites. */
  def modularityMonitorSink(stream: DataFrame, idCol: String,
                            textCol: String, srcCol: String,
                            corpusDir: String, stateDir: String,
                            checkpointDir: String,
                            numBands: Int = 4, minJaccard: Double = 0.1,
                            k: Int = 3, rowsPerBand: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery =
    everyBatch(stream, checkpointDir, releasePools) { (spark, batch, batchId) =>
      import graft.operators.Dedup
      val docs = batch.select(col(idCol), col(textCol), col(srcCol))
      val within = Dedup.lshPairs(docs, idCol, textCol,
        numBands, minJaccard, k, rowsPerBand)
        .select(col("a_id"), col("b_id"))
      val prior = priorState(spark, corpusDir, batchId,
        Seq(idCol, textCol, srcCol))
      val cross = prior.map(corpus =>
        Dedup.lshPairsAgainst(docs, corpus, idCol, textCol,
          numBands, minJaccard, k, rowsPerBand)
          .select(col("new_id").as("a_id"),
            col("corpus_id").as("b_id")))
      docs.write.mode("overwrite").parquet(s"$corpusDir/batch=$batchId")
      val srcMap = prior.foldLeft(docs)(_ unionByName _)
        .select(col(idCol).as("id"), col(srcCol).as("src"))
      val es = cross.foldLeft(within)(_ unionByName _)
        .join(srcMap.as("sa"), col("a_id") === col("sa.id"))
        .join(srcMap.as("sb"), col("b_id") === col("sb.id"))
        .select(col("sa.src").as("s_a"), col("sb.src").as("s_b"))
      graft.operators.Graphs.sourceEdgeCounts(es)
        .write.mode("overwrite").parquet(s"$stateDir/batch=$batchId")
    }

  /** Streaming burst monitor — q215's production form: each micro-batch
    * publishes its (event_type, hour) count partial, and the burst
    * report is recomputed over the MERGED counts through the SAME
    * [[graft.operators.Transforms.burstFlags]] assembly the batch query
    * uses. Hourly counts are plain integer sums, so merged partials ≡
    * one batch aggregation and the streamed report equals batch q215
    * over the union of all arrivals (spec-proven) — the live rate-spike
    * alarm of an ingestion pipeline, maintained without re-scanning
    * history (the window rides the hours×types count frame, not the
    * event stream). */
  def burstMonitorSink(stream: DataFrame, tsCol: String, typeCol: String,
                       stateDir: String, reportDir: String,
                       checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    monitor(stream, checkpointDir, stateDir)(
      batch => Seq("" -> batch.filter(col(tsCol).isNotNull)
        .groupBy(col(typeCol).as("event_type"),
          date_trunc("hour", col(tsCol)).as("hour"))
        .agg(count(lit(1)).as("n"))),
      Some(reportDir -> (spark => graft.operators.Transforms.burstFlags(
        spark.read.parquet(stateDir)
          .groupBy(col("event_type"), col("hour"))
          .agg(sum(col("n")).as("n"))))))

  /** Streaming Count-Min maintenance — q217's production form, and the
    * frequency sibling of [[kmvSketchSink]]: each micro-batch publishes
    * its ≤4096-row counter partial plus its probe-term exact counts,
    * and the heavy-hitter report is recomputed over the MERGED state
    * through the SAME [[graft.operators.CountMin.report]] assembly the
    * batch query uses. Counters are plain integer sums, so merged
    * partials ≡ the one-pass sketch (spec-proven against batch q217
    * over all arrivals) — history is never re-tokenized, and the live
    * state is constant-size regardless of stream length. */
  def cmsMonitorSink(stream: DataFrame, textCol: String,
                     terms: Seq[String], stateDir: String,
                     reportDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    def probes(spark: SparkSession) = {
      import spark.implicits._
      terms.toDF("term")
    }
    monitor(stream, checkpointDir, stateDir)({ batch =>
      val toks = batch.filter(col(textCol).isNotNull)
        .select(explode(split(col(textCol), " ")).as("term"))
      Seq("counters" -> graft.operators.CountMin.sketch(toks, "term"),
        "exact" -> toks.join(broadcast(probes(batch.sparkSession)), Seq("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("exact_cnt")))
    }, Some(reportDir -> (spark => graft.operators.CountMin.report(
      spark.read.parquet(s"$stateDir/counters")
        .groupBy(col("r"), col("bkt")).agg(sum(col("c")).as("c")),
      spark.read.parquet(s"$stateDir/exact")
        .groupBy(col("term")).agg(sum(col("exact_cnt")).as("exact_cnt")),
      probes(spark)))))
  }

  /** Streaming Bloom-filter maintenance — q219's production form, the
    * set-membership sibling of [[cmsMonitorSink]]: each micro-batch
    * publishes its ≤16384-row set-bit partial plus its distinct member
    * terms, and the membership audit is recomputed over the MERGED
    * state through the SAME [[graft.operators.BloomSet.report]]
    * assembly the batch query uses. Set bits merge by plain union
    * (distinct of unioned partials ≡ the one-pass sketch — Bloom's
    * textbook mergeability), so the streamed report equals batch q219
    * over all arrivals, spec-proven; history is never re-tokenized and
    * the live state is bounded by m bits regardless of stream length. */
  def bloomMonitorSink(stream: DataFrame, textCol: String,
                       probes: DataFrame, stateDir: String,
                       reportDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    monitor(stream, checkpointDir, stateDir)({ batch =>
      val terms = batch.filter(col(textCol).isNotNull)
        .select(explode(split(col(textCol), " ")).as("term"))
        .filter(length(col("term")) > 0).distinct()
      Seq("bits" -> graft.operators.BloomSet.sketch(terms, "term"),
        "members" -> terms)
    }, Some(reportDir -> (spark => graft.operators.BloomSet.report(
      spark.read.parquet(s"$stateDir/bits").select(col("bit")).distinct(),
      spark.read.parquet(s"$stateDir/members").select(col("term")).distinct(),
      probes))))

  /** Streaming histogram-sketch maintenance — q224's production form,
    * the quantile sibling of [[cmsMonitorSink]]: each micro-batch
    * publishes its bin-count partial (a range/W-sized frame of exact
    * longs), and the quantile report is re-assembled over the per-bin
    * SUM of all partials through the SAME
    * [[graft.operators.HistSketch.quantiles]] walk the batch query
    * uses. Bin counters merge by addition (sums of sums ≡ the one-pass
    * sketch), so the streamed estimates equal batch q224's over all
    * arrivals, spec-proven; history is never re-scanned and the live
    * state is bounded by the value range over the bin width. */
  def histMonitorSink(stream: DataFrame, valueCol: String,
                      stateDir: String, reportDir: String,
                      checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    monitor(stream, checkpointDir, stateDir)(
      batch => Seq("bins" -> graft.operators.HistSketch.sketch(
        batch.filter(col(valueCol).isNotNull)
          .select((col(valueCol).cast("decimal(18,6)") * lit(1000000))
            .cast("long").as("y")), "y")),
      Some(reportDir -> (spark => graft.operators.HistSketch.quantiles(
        spark.read.parquet(s"$stateDir/bins")
          .groupBy(col("bin")).agg(sum(col("c")).as("c")),
        graft.queries.MiscQueries.HistPcts))))

  /** Streaming embedding-ANISOTROPY monitor — q250's production form
    * ("is the embedding space collapsing onto a few rogue directions
    * as ingestion proceeds"): each micro-batch publishes its ADDITIVE
    * scatter moments ([[graft.operators.Similarity.scatterMoments]] —
    * the d²-row raw second moments + the d-row first moments, exact
    * DECIMAL/long), and the dominant-direction report is re-solved per
    * batch over the per-key SUM of all partials through the SAME
    * driver-side BigInt power iteration the batch query uses
    * ([[graft.operators.Similarity.solveScatterFrames]]). The centered
    * scatter reassembles exactly as G = n²M − n·S₁S₂, so the streamed
    * report equals batch q250 over all arrivals — spec-proven; history
    * is never re-read and live state is d²-sized per batch. */
  def anisotropyMonitorSink(stream: DataFrame, idCol: String,
                            vecCol: String, stateDir: String,
                            reportDir: String, checkpointDir: String,
                            iterations: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery =
    // componentFrame pools per corpus plan: release the pool per batch
    monitor(stream, checkpointDir, stateDir, releasePools)({ batch =>
      val (mom, sums) = graft.operators.Similarity.scatterMoments(
        batch, idCol, vecCol)
      Seq("moments" -> mom, "sums" -> sums)
    }, Some(reportDir -> (servingAnisotropy(_, stateDir, iterations))))

  /** The queryable anisotropy report over everything
    * [[anisotropyMonitorSink]] has published — merged moment partials
    * solved through the shared batch expression path. */
  def servingAnisotropy(spark: SparkSession, stateDir: String,
                        iterations: Int = 3): DataFrame =
    graft.operators.Similarity.solveScatterFrames(spark,
      spark.read.parquet(s"$stateDir/moments")
        .groupBy(col("p1"), col("p2")).agg(sum(col("m")).as("m")),
      spark.read.parquet(s"$stateDir/sums")
        .groupBy(col("pos"))
        .agg(sum(col("sv")).as("sv"), sum(col("n")).as("n")),
      iterations)

  /** Streaming twin of the q258/q260 label-centroid state: each batch
    * publishes its ADDITIVE per-(label, dimension) component sums and
    * counts (Similarity.labelMoments), and the served centroid table is
    * the MERGED sums put through the same trunc-DIV subgrid as the
    * batch operators. Merging per-batch centroids instead would average
    * truncations — the spec plants a split where that gives a different
    * value. The report is the live label-geometry state a curation
    * pipeline watches for centroid drift as a corpus streams in; the
    * batch silhouette/κ queries can run against ANY corpus snapshot
    * with these centroids because the derivation is identical. */
  def centroidMonitorSink(stream: DataFrame, idCol: String,
                          vecCol: String, labelCol: String,
                          stateDir: String, reportDir: String,
                          checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    monitor(stream, checkpointDir, stateDir, releasePools)(
      batch => Seq("moments" -> graft.operators.Similarity.labelMoments(
        batch, idCol, vecCol, labelCol)),
      Some(reportDir -> (servingCentroids(_, stateDir))))

  /** The queryable centroid table over everything
    * [[centroidMonitorSink]] has published — merged moment partials
    * through the shared batch derivation. */
  def servingCentroids(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.Similarity.centroidsFromMoments(
      spark.read.parquet(s"$stateDir/moments")
        .groupBy(col("clbl"), col("pos"))
        .agg(sum(col("sq")).as("sq"), sum(col("ng")).as("ng")))

  /** Streaming twin of the q274 per-label embedding-drift report: each
    * batch publishes its ADDITIVE (label, half, pos) component moments
    * (Similarity.driftMoments), and the served report re-derives the
    * half-centroids from the MERGED sums through the same trunc-DIV as
    * the batch operator — merging per-batch centroids would average
    * truncations (the spec plants a split where that differs). The live
    * re-embed / re-crawl drift gauge a vector column's monitoring
    * watches as a corpus streams in. */
  def embeddingDriftMonitorSink(stream: DataFrame, idCol: String,
                                vecCol: String, labelCol: String,
                                stateDir: String, reportDir: String,
                                checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    monitor(stream, checkpointDir, stateDir, releasePools)(
      batch => Seq("moments" -> graft.operators.Similarity.driftMoments(
        batch, idCol, vecCol, labelCol)),
      Some(reportDir -> (servingEmbeddingDrift(_, stateDir))))

  /** The queryable drift report over everything
    * [[embeddingDriftMonitorSink]] has published — merged moment
    * partials through the shared batch derivation (≡ batch q274 over
    * all arrivals, spec-proven). */
  def servingEmbeddingDrift(spark: SparkSession, stateDir: String)
      : DataFrame =
    graft.operators.Similarity.driftFromMoments(
      spark.read.parquet(s"$stateDir/moments")
        .groupBy(col("clbl"), col("half"), col("pos"))
        .agg(sum(col("sq")).as("sq"), sum(col("ng")).as("ng")))

  /** Streaming twin of the q271 data-constrained epoch schedule: each
    * batch publishes its per-source token-count partial (counts merge
    * by ADDITION), and the served schedule is Mixture.epochSchedule
    * over the merged |sources|-row frame — integer-exact, so the
    * streamed schedule equals batch q271 over all arrivals regardless
    * of wave splits (spec-proven with a source whose per-wave schedules
    * differ from the merged one). The live acquisition dashboard: as
    * data streams in, `unmet` shrinking to 0 is the signal a source no
    * longer needs >maxEpochs repetition. */
  def epochScheduleMonitorSink(stream: DataFrame, srcCol: String,
                               textCol: String, stateDir: String,
                               reportDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    monitor(stream, checkpointDir, stateDir)(
      batch => Seq("tokens" -> batch.groupBy(col(srcCol).as("source"))
        .agg(sum(size(split(col(textCol), " ")).cast("long")).as("tokens"))),
      Some(reportDir -> (servingEpochSchedule(_, stateDir))))

  /** The queryable epoch schedule over everything
    * [[epochScheduleMonitorSink]] has published — merged token partials
    * through the shared batch operator. */
  def servingEpochSchedule(spark: SparkSession, stateDir: String)
      : DataFrame =
    graft.operators.Mixture.epochSchedule(
      spark.read.parquet(s"$stateDir/tokens")
        .groupBy(col("source")).agg(sum(col("tokens")).as("tokens")))

  /** Streaming twin of the q278 classifier TRAINING state — the last
    * trained model state to join §2.12's build→persist→serve→append→
    * stream-maintain contract. Batch gradient descent has no per-batch
    * additive gradient (each round's gradient depends on the evolving
    * weights over ALL rows), so the merge-closed state is the id-sized
    * RAW feature frame itself: each batch publishes
    * Logit.rawFeatures(augment(batch)) — a pure per-row projection, no
    * shuffle — and the serve step re-fits the centering means over the
    * UNION and re-trains through the shared Logit.trainTrajectory tree
    * (the q222 OLS-monitor pattern: partials merge trivially, SOLVE at
    * read). That makes the streamed trajectory ≡ batch q278 over all
    * arrivals regardless of wave splits — per-wave training would
    * center per-wave means and diverge (spec plants exactly that).
    * Replay-idempotent by construction: a re-delivered batch overwrites
    * its own `feat/batch=<id>` partial with identical deterministic
    * content. State grows id-sized (like the ingest corpus logs), never
    * corpus-text-sized; serve cost is Rounds map-side-combined
    * aggregations over it. */
  def logitMonitorSink(stream: DataFrame, idCol: String, textCol: String,
                       stateDir: String, reportDir: String,
                       checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    monitor(stream, checkpointDir, stateDir)(
      batch => Seq("feat" -> graft.operators.Logit.rawFeatures(
        graft.operators.Logit.augment(
          batch.select(col(idCol).as("doc_id"), col(textCol).as("text"))))),
      Some(reportDir -> (servingLogit(_, stateDir))))

  /** The queryable trained trajectory (round, w0..w3) over everything
    * [[logitMonitorSink]] has published — serve-time means over the
    * merged raw partials, then the SAME fixed-point training the batch
    * operator runs (≡ q278 over all arrivals, spec-proven). */
  def servingLogit(spark: SparkSession, stateDir: String): DataFrame = {
    val raw = spark.read.parquet(s"$stateDir/feat")
    val traj = graft.operators.Logit.trainTrajectory(
      graft.operators.Logit.centerFeatures(
        raw, graft.operators.Logit.fitMeans(raw, lit(true))))
    import spark.implicits._
    traj.map(w => (w.round, w.w0, w.w1, w.w2, w.w3))
      .toDF("round", "w0", "w1", "w2", "w3").coalesce(1)
  }

  /** Streaming twin of the q275 l-diversity audit: each batch merges
    * (a) the per-group member-count partial (ADDITIVE) and (b) the
    * DISTINCT (group, sensitive-value) pairs (a set that merges by
    * union — bounded at groups × value buckets, never corpus-sized)
    * into ONE COMPACTED base snapshot per state (the sourceCapSink
    * base/.old/.staging rotation — ADVICE r14: the original
    * one-directory-per-batch layout grew file count and serve cost
    * unboundedly with stream lifetime; the compacted bases keep both
    * O(groups) forever). The served report derives l from the UNIONED
    * pair set, so a group whose sensitive values only span WAVES is
    * correctly diverse — the merge-closure trap per-batch l's would get
    * wrong (spec plants exactly that group). Counts are NOT naturally
    * replay-idempotent (a re-delivered batch would re-add its gsz), so
    * an applied-batch marker skips the state merge on checkpoint
    * replay — the same exactly-once-state contract as sourceCapSink's
    * across-the-merge dedupe. `qidCols` are the quasi-identifier
    * columns; `sensCol` is the PRE-BUCKETED sensitive-value column (the
    * caller owns the bucket grid, as batch q275 does with the
    * exact-cents rule). */
  def lDiversityMonitorSink(stream: DataFrame, qidCols: Seq[String],
                            sensCol: String, stateDir: String,
                            reportDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    everyBatch(stream, checkpointDir) { (spark, batch, batchId) =>
      val qc = qidCols.map(col)
      val marker = Paths.get(s"$stateDir/applied/batch=$batchId")
      if (!Files.exists(marker)) {
        // The directory marker alone is NOT atomic with the swap: a
        // crash after a rotate's staging→base move but before the
        // marker would re-merge this batch's gsz on replay (permanent
        // overcount — ADVICE r15). So each staged snapshot carries the
        // batch id INSIDE it as a '_'-prefixed sentinel file (invisible
        // to parquet readers): the applied evidence moves in the same
        // rename as the state, and a per-rotate skip makes each rotate
        // individually idempotent even when the crash lands BETWEEN
        // the two rotates.
        val sentinelName = s"_applied_batch_$batchId"
        // merge one batch into one compacted base snapshot
        def rotate(df: DataFrame, dir: String)
                  (compact: DataFrame => DataFrame): Unit =
          // this batch's merge already swapped in — merging again
          // would double-count; a leftover .old is just the
          // completed swap's debris
          if (Files.exists(Paths.get(dir, sentinelName)))
            Convert.deleteRecursively(Paths.get(dir + ".old"))
          else promote(dir) { staging =>
            val merged =
              if (Files.exists(Paths.get(dir))) spark.read.parquet(dir).unionByName(df)
              else df
            compact(merged).write.mode("overwrite").parquet(staging)
            Files.createFile(Paths.get(staging, sentinelName))
          }
        rotate(batch.groupBy(qc: _*).agg(count(lit(1)).as("gsz")),
          s"$stateDir/sizes")(
          _.groupBy(qc: _*).agg(sum(col("gsz")).as("gsz")))
        rotate(batch.select((qc :+ col(sensCol).as("__sens")): _*)
          .distinct(), s"$stateDir/pairs")(_.distinct())
        Files.createDirectories(marker)
      }
      servingLDiversity(spark, qidCols, stateDir)
        .write.mode("overwrite").parquet(reportDir)
    }

  /** The queryable l-diversity report over everything
    * [[lDiversityMonitorSink]] has published — the COMPACTED size and
    * pair base snapshots through the shared batch derivation
    * (Quality.lDiversityReport; ≡ batch q275 over all arrivals,
    * spec-proven). Serve cost is O(groups) rows and O(1) directories
    * regardless of stream lifetime; the re-aggregation over the
    * already-compacted bases is a no-op-shaped safety net (sums of
    * one-row groups), kept so the derivation is identical whether the
    * bases are freshly compacted or mid-recovery. */
  def servingLDiversity(spark: SparkSession, qidCols: Seq[String],
                        stateDir: String): DataFrame = {
    val qc = qidCols.map(col)
    val sizes = spark.read.parquet(s"$stateDir/sizes")
      .groupBy(qc: _*).agg(sum(col("gsz")).as("gsz"))
    val lset = spark.read.parquet(s"$stateDir/pairs")
      .select((qc :+ col("__sens")): _*).distinct()
      .groupBy(qc: _*).agg(count(lit(1)).as("l"))
    graft.operators.Quality.lDiversityReport(
      sizes.join(lset, qidCols))
  }

  /** Streaming enforcement of the q262 per-source retention cap: the
    * accumulated corpus holds at most `cap` documents per source AT ALL
    * TIMES — each batch merges its arrivals with the survivor state,
    * re-ranks per source through the SAME Mixture.sourceCap window as
    * the batch operator (quality DESC, id ASC), keeps rk ≤ cap, and
    * appends the evicted/rejected full rows (+ batch_id) to an
    * append-only audit log. The kept set is ORDER-INDEPENDENT — top-cap
    * under a total order is merge-closed: top(cap, A ∪ B) =
    * top(cap, top(cap, A) ∪ B) — so the streamed corpus equals the
    * batch sourceCap survivors over all arrivals regardless of how the
    * waves split (spec-proven with a planted late arrival that evicts
    * an early incumbent, plus a cross-wave quality tie). State is
    * BOUNDED at sources×cap rows, so the per-batch stage-swap rewrite
    * is bounded-state, never corpus-sized; a checkpoint-replayed batch
    * re-derives the identical survivor set (idempotent) but may append
    * duplicate audit rows — dedupe the audit on (source, id, batch_id)
    * at read, the same at-least-once contract as the other ingest
    * sinks' logs. */
  def sourceCapSink(stream: DataFrame, srcCol: String, idCol: String,
                    qualityCol: String, cap: Int, baseDir: String,
                    auditDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    everyBatch(stream, checkpointDir) { (spark, batch, batchId) =>
      val arrivals = batch.dropDuplicates(Seq(srcCol, idCol))
      promote(baseDir) { staging =>
        // dedupe across the MERGE, not just within the batch: a
        // checkpoint-replayed batch's rows are already in base, so the
        // union would carry each key twice — both copies would rank
        // (consuming two cap slots / minting a spurious audit eviction)
        // and the keepIds join would multiply duplicate keys. One key =
        // one row makes the replay truly re-derive the identical
        // survivor set.
        val all =
          (if (Files.exists(Paths.get(baseDir)))
             spark.read.parquet(baseDir).unionByName(arrivals)
           else arrivals)
            .dropDuplicates(Seq(srcCol, idCol))
        val keepIds = graft.operators.Mixture.sourceCap(
            all, srcCol, idCol, col(qualityCol), cap)
          .filter(col("rk") <= cap)
          .select(col(srcCol), col(idCol))
        all.join(keepIds, Seq(srcCol, idCol), "left_anti")
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(auditDir)
        all.join(keepIds, Seq(srcCol, idCol))
          .write.mode("overwrite").parquet(staging)
      }
    }

  /** Streaming media ingest with quarantine — the q269 acceptance gate
    * as a sink: every arriving asset is format-sniffed and REALLY
    * decoded (Multimodal.classifyMedia); healthy rows append to the
    * stats corpus, damaged/foreign ones append to a quarantine log with
    * their batch id and failure bucket instead of poisoning the stream.
    * Classification is per-asset and stateless, so the accumulated
    * corpus trivially equals the batch classification over all arrivals
    * (spec-proven with damage planted mid-stream); at-least-once
    * delivery means a replayed batch can duplicate rows in EITHER log —
    * both the corpus and the quarantine rows carry `batch_id`, so the
    * read-side remedy is the same for both: dedupe on
    * (asset_id, batch_id), as with the other append-only logs
    * (classification is deterministic per asset, so duplicate copies
    * are identical). */
  def mediaIngestSink(stream: DataFrame, corpusDir: String,
                      quarantineDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    everyBatch(stream, checkpointDir) { (_, batch, batchId) =>
      // persist so the decode (the expensive half) runs once, not once
      // per destination filter
      val classified =
        graft.multimodal.Multimodal.classifyMedia(batch).persist()
      try {
        classified.filter(!col("bucket").isin(
            "png_corrupt", "wav_corrupt", "unknown_format"))
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(corpusDir)
        classified.filter(col("bucket").isin(
            "png_corrupt", "wav_corrupt", "unknown_format"))
          .select(col("asset_id"), col("bucket"),
            lit(batchId).as("batch_id"))
          .write.mode("append").parquet(quarantineDir)
      } finally classified.unpersist()
    }

  /** Streaming OLS trend maintenance — q222's production form: each
    * micro-batch publishes its per-type 5-accumulator sufficient-
    * statistic partial ([[graft.operators.Ols.suffStats]] over the
    * SAME (x, y) mapping the batch query uses), and the trend report
    * is re-solved over the per-type SUM of all partials
    * ([[graft.operators.Ols.mergeStats]] → [[graft.operators.Ols.solve]]).
    * Sufficient statistics merge by plain addition — exact longs and
    * DECIMAL(38,0), no floating point anywhere — so the streamed
    * report equals batch q222 over all arrivals, spec-proven; the live
    * state is |event types| × 5 numbers regardless of stream length. */
  def olsMonitorSink(stream: DataFrame, stateDir: String,
                     reportDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    monitor(stream, checkpointDir, stateDir)(
      batch => Seq("stats" ->
        graft.operators.Ols.suffStats(graft.operators.Ols.xy(batch))),
      Some(reportDir -> (spark => graft.operators.Ols.solve(
        graft.operators.Ols.mergeStats(spark.read.parquet(s"$stateDir/stats"))))))

  /** Streaming KS drift maintenance — q225's production form: each
    * micro-batch publishes its (source, value) count partial
    * ([[graft.operators.KsDrift.counts]] over the SAME mapping the
    * batch query uses), and the drift report is re-assembled over the
    * per-key SUM of all partials ([[graft.operators.KsDrift.mergeCounts]]
    * → [[graft.operators.KsDrift.report]]). Counts merge by plain
    * addition and the whole assembly up to the final division is
    * integer/decimal-exact, so the streamed report equals batch q225
    * over all arrivals, spec-proven; history is never re-scanned and
    * the live state is |sources|·|distinct values| regardless of
    * stream length. */
  def ksMonitorSink(stream: DataFrame, sourceCol: String, valueCol: String,
                    baselineSource: String, stateDir: String,
                    reportDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    monitor(stream, checkpointDir, stateDir)(
      batch => Seq("counts" ->
        graft.operators.KsDrift.counts(batch, sourceCol, valueCol)),
      Some(reportDir -> (spark => graft.operators.KsDrift.report(
        graft.operators.KsDrift.mergeCounts(
          spark.read.parquet(s"$stateDir/counts")),
        baselineSource))))

  /** The queryable modularity report over everything
    * [[modularityMonitorSink]] has published: sum the per-batch counter
    * partials by source (exact longs — merged ≡ full recompute), then
    * the shared report assembly. Equals the batch q206 over the union
    * of all arrivals, spec-proven. */
  def servingModularity(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.Graphs.modularityReport(
      spark.read.parquet(stateDir)
        .groupBy(col("source"))
        .agg(sum(col("within_edges")).as("within_edges"),
          sum(col("cross_edges")).as("cross_edges")))

  /** Run any streaming DataFrame to completion over currently-available
    * input (Trigger.AvailableNow) into an in-memory table; returns the
    * result for assertion/inspection. Used by tests and local tooling. */
  def runAvailableNow(out: DataFrame, queryName: String,
                      outputMode: OutputMode = OutputMode.Append): DataFrame = {
    val q = out.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    out.sparkSession.table(queryName)
  }

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(sessionId: Long, lastTs: Long)
  case class SessionUpdate(user_id: Long, session_id: Long, event_id: Long,
                           ts: Timestamp)

  /** Sessionization with watermark-driven state eviction — the ONLY
    * sessionize path (an earlier NoTimeout variant was removed: state
    * that is never evicted is exactly the unbounded-state bug a
    * long-running stream dies of, and EventTimeTimeout works under
    * Trigger.AvailableNow replays too — the timeout fires on the
    * event-time watermark, not on wall-clock batch scheduling). The
    * input must carry an event-time watermark (applied here); each update
    * arms an EventTimeTimeout at lastTs + gap, so once the watermark
    * passes a user's session gap the state is removed — per-user state is
    * bounded by active users inside the watermark horizon instead of
    * growing forever.
    *
    * Session identity: a per-user counter cannot survive eviction (a
    * timed-out user's fresh state would restart at 1 and collide with
    * their earlier sessions), so `session_id` is the session's START TIME
    * in epoch millis — unique and monotone per user across any number of
    * evictions, with no state beyond the current session.
    *
    * Cross-batch ordering assumption: events are sorted by event time
    * WITHIN a micro-batch, but a batch is assumed not to arrive before an
    * earlier-timestamped event of a later batch — late data beyond the
    * batch boundary joins the session state as it stands, bounded by the
    * watermark. */
  def sessionizeWithTimeout(events: Dataset[Event], gapMinutes: Int = 30,
                            watermark: String = "2 hours"): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // sessionId field carries the session-start epoch millis
            var s = state.getOption.getOrElse(SessionState(Long.MinValue, Long.MinValue))
            val out = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
              val tms = e.ts.getTime
              val start = if (s.lastTs == Long.MinValue || tms - s.lastTs > gapMs)
                tms else s.sessionId
              s = SessionState(start, tms)
              SessionUpdate(userId, start, e.event_id, e.ts)
            }
            state.update(s)
            if (s.lastTs != Long.MinValue) state.setTimeoutTimestamp(s.lastTs + gapMs)
            out.iterator
          }
      }
  }
}
