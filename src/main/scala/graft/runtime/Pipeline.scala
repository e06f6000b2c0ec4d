package graft.runtime

import graft.gold._
import graft.ingest.Events
import graft.silver.{Dedup, MergeUpsert, Sessionize}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** C5: the deterministic job DAG (reference gold_daily_dag.py:146 runs the
  * five gold jobs strictly sequentially because webtoon reads the episode
  * Gold table). In our engine the chain is plain code: bronze-shaped events
  * → silver merge-upsert → bucketed silver layout → gold tables in
  * dependency order, with the C4 completeness gate between layers and the
  * C6 failure alert (file sink + callback) standing in for the reference's
  * Slack hook.
  */
object Pipeline {

  case class Result(table: String, rows: Long)

  /** C6 alert delivery: one JSON file per failure under
    * `<warehouseDir>/_alerts/`, carrying the reference Slack payload's
    * fields re-expressed for an engine (silver_dag.py:25-62 posts dag id,
    * task id, execution time, try context; here: pipeline, stage, ts_ms,
    * error class + message, warehouse). Written through the Hadoop
    * filesystem of the warehouse path so delivery works wherever the
    * warehouse lives, with no network dependency — a deployment points
    * its webhook relay at the directory. Alerting must never mask the
    * original failure, so errors here are swallowed. */
  private def writeAlert(spark: SparkSession, warehouseDir: String,
                         stageName: String, e: Throwable): Unit =
    try {
      val ts = System.currentTimeMillis()
      val path = new org.apache.hadoop.fs.Path(
        s"$warehouseDir/_alerts/alert-$ts-$stageName.json")
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def q(s: String): String = "\"" + Option(s).getOrElse("").flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      val json =
        s"""{"pipeline": "daily", "stage": ${q(stageName)}, """ +
          s""""ts_ms": $ts, "error_class": ${q(e.getClass.getName)}, """ +
          s""""error": ${q(e.getMessage)}, """ +
          s""""warehouse": ${q(warehouseDir)}}"""
      val out = fs.create(path, true)
      try out.write(json.getBytes("UTF-8")) finally out.close()
    } catch { case _: Throwable => () }

  /** One chain's stage runner: the first failing stage writes its C6
    * alert ([[writeAlert]]), calls `onFailure`, and rethrows. */
  private final class Stages(spark: SparkSession, warehouseDir: String,
                             onFailure: (String, Throwable) => Unit) {
    def apply[T](name: String)(body: => T): T =
      try body
      catch { case e: Throwable =>
        writeAlert(spark, warehouseDir, name, e)
        onFailure(name, e)
        throw e
      }
  }

  /** Runs the full chain for one source dir into `warehouseDir`.
    * Returns per-table row counts; on the first failing stage writes a C6
    * alert record, calls `onFailure`, and rethrows.
    *
    * Silver lands twice by design: the incremental merge-upsert parquet
    * (the system of record MergeUpsert maintains across runs) and the
    * `bucketBy(user_id)` managed table the gold jobs actually read — so
    * no gold job pays the per-job user_id shuffle (see [[Bucketed]]; at
    * 100 TB that shuffle, not the aggregation, is the bill). */
  def runDaily(spark: SparkSession, sfDir: String, warehouseDir: String,
               onFailure: (String, Throwable) => Unit = (_, _) => ())
      : Seq[Result] = {
    val stage = new Stages(spark, warehouseDir, onFailure)

    // Warehouse-scoped table name + location: two pipelines sharing one
    // session (a backfill beside the daily run, parallel tests) must not
    // cross-talk through a catalog-global default name, and the layout
    // must live INSIDE the pipeline's warehouse dir — archiving the
    // warehouse keeps the system-of-record layout with it.
    val btable = "silver_sessions_bucketed_" + java.security.MessageDigest
      .getInstance("MD5").digest(warehouseDir.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    val silverDir = s"$warehouseDir/silver_sessions"

    // Preflight, BEFORE any write mutates the warehouse: a blind full
    // recompute over tables that carry CDC change logs would rewrite
    // them without publishing the delta — every log consumer's
    // replay == snapshot contract silently breaks (the log keeps
    // replaying to the PRE-recompute state). Fail loud up front, not
    // after silver already swapped: the incremental chain is the
    // log-publishing path; a deliberate backfill over a logged
    // warehouse must first retire the logs (consumers re-seed from a
    // snapshot, then ChangeLog.checkpoint/delete).
    stage("cdc_guard") {
      loggedTables.map(_._1).foreach { t =>
        require(!ChangeLog.hasLog(spark, s"$warehouseDir/$t"),
          s"$warehouseDir/$t has a CDC change log: a full recompute " +
            "would rewrite the table without publishing its delta, " +
            "breaking every log consumer's replay contract — run " +
            "runDailyIncremental; for a LOGIC change, " +
            "reprocessPublishing (full re-consume that publishes the " +
            "delta at fresh ids); or retire the log (re-seed " +
            "consumers from a snapshot, then collapse/delete it)")
      }
    }
    // Warehouse-wide crash-leftover sweep FIRST, before any read or
    // write: the per-writer sweeps heal only tables this run rewrites,
    // but a between-renames backup on a table this run only READS (or
    // one nobody writes again) holds the only copy of a partition that
    // reads as missing — heal it up front, and report the action count
    // as a per-run health signal (a persistent nonzero means something
    // is crashing between runs).
    val vacuumed = stage("vacuum") {
      Vacuum.sweep(spark, warehouseDir).map(_.actions.toLong).sum
    }

    val silver = stage("silver") {
      val sessions =
        Sessionize.sessions(Dedup.keepLatest(Events.cleansed(spark, sfDir)))
      // replaceAll, not the keyed upsert: this stage is the COMPLETE
      // recompute of silver, so the table must converge to it exactly —
      // a keyed upsert would keep rows whose session keys vanished from
      // the recompute (a late re-stamped event moving a session between
      // runs), silently diverging from runDailyIncremental's
      // deletion-propagating chain on the same warehouse.
      MergeUpsert.replaceAll(spark, silverDir, sessions)
      // The layout write: rewrite the bucketed table from the merged
      // silver so every downstream user-keyed groupBy/window/self-join
      // plans with zero Exchange (BucketedSpec / PlanSpec assert this).
      Bucketed.writeSilver(spark, btable, spark.read.parquet(silverDir),
        location = Some(s"$warehouseDir/$btable"))
      spark.table(btable)
    }

    // Dead-letter surface: every row the cleanse gate dropped, with its
    // failed checks (Events.rejects). Partitioned by batch_id — the
    // SAME scheme as the incremental chain's per-source-batch capture,
    // with the synthetic id -1 marking "the full recompute": one table
    // must carry ONE partition column, or a warehouse that runs both
    // chains (batch backfill, then incremental maintenance) leaves
    // mixed reject_reason=*/batch_id=* directories that no reader can
    // open. Reason-level audit filters on the reject_reason COLUMN
    // (quarantine is audit-scale; losing its directory pruning is the
    // accepted cost of chain compatibility). replaceAll converges the
    // table to THIS run's rejects (the full-recompute discipline of
    // every other table here), so re-running the day is idempotent.
    // Clean input ⇒ empty table — which is the audit statement
    // "nothing was dropped", not an error.
    stage("quarantine") {
      MergeUpsert.replaceAll(spark, s"$warehouseDir/quarantine_events",
        Events.rejects(Events.enriched(spark, sfDir))
          .withColumn("batch_id",
            org.apache.spark.sql.functions.lit(-1L)),
        partitionCol = "batch_id")
    }

    // C4 gate: silver partitions must exist before gold runs.
    stage("gate") {
      require(Incremental.completenessGate(spark, silverDir, 0) &&
        silver.take(1).nonEmpty, s"completeness gate failed for $silverDir")
    }

    def writeGold(name: String, df: DataFrame): Result = stage(name) {
      val dir = s"$warehouseDir/$name"
      // Full-recompute convergence (same argument as the silver stage):
      // a dynamic partition overwrite only touches partitions present
      // in the written frame, so a gold date whose rows all vanished
      // would keep its stale partition forever.
      MergeUpsert.replaceAll(spark, dir, df)
      Result(name, spark.read.parquet(dir).count())
    }

    // Reference order (C5): user → episode → webtoon (reads episode gold)
    // → platform/device → country. The user gold runs the
    // layout-specialized form: UserDaily's default countDistinct plans
    // an Expand that discards the bucketed partitioning, which would
    // re-shuffle the table the layout write exists to keep in place —
    // Bucketed.userDaily (set-based distincts, identical rows) keeps
    // the whole job exchange-free.
    val user = writeGold("gold_user_daily", Bucketed.userDaily(spark, btable))
    val episode = writeGold("gold_episode_daily", EpisodeDaily.build(silver))
    val episodeGold =
      spark.read.parquet(s"$warehouseDir/gold_episode_daily")
    val webtoon = writeGold("gold_webtoon_daily",
      WebtoonDaily.build(silver, episodeGold))
    val platform = writeGold("gold_platform_device_daily",
      PlatformDeviceDaily.build(silver))
    val country = writeGold("gold_country_daily", CountryDaily.build(silver))
    // The sketch gold: per-day HLL user-sketch STATE (SketchGold), so
    // rolling distincts (WAU/MAU) read |window| kilobyte rows instead
    // of |window| days of sessions.
    val sketch = writeGold("gold_user_sketch",
      SketchGold.silverDailySketch(silver))

    // Maintenance tail: compact every datetime-partitioned table this
    // run wrote — the six golds AND the silver system-of-record
    // (MergeUpsert writes it hive-partitioned by datetime, and the
    // daily merge rewrite is exactly what fragments it). This is the
    // operational step that keeps the C4 file-count gate honest
    // (reference gold_daily_dag.py:49-64 gates on these file counts).
    // Idempotent and metadata-planned, so a run that fragmented
    // nothing rewrites nothing; row counts reported above are
    // unaffected (compaction is content-preserving — CompactionSpec).
    // The bucketed layout table is deliberately EXCLUDED: its file
    // count IS its bucket spec, which a coalesce would destroy.
    val compacted = stage("compact") {
      loggedTables.map { case (t, _) =>
        Compaction.compact(spark, s"$warehouseDir/$t").count()
      }.sum
    }

    Seq(Result("vacuum_actions", vacuumed),
      Result("silver_sessions", silver.count()), user, episode, webtoon,
      platform, country, sketch, Result("compaction_rewrites", compacted))
  }

  /** The INCREMENTAL daily chain: bronze delta → user-scoped silver
    * update ([[IncrementalSilver]]) → delta-scoped gold upserts
    * ([[IncrementalGold]]) for all five tables. [[runDaily]] recomputes
    * history; this charges each run only for the ingest delta — the
    * shape a 100 TB deployment actually schedules (the reference's
    * snapshot-date-scoped gold jobs, made exact). Returns the new
    * bronze watermark; a no-change delta touches nothing.
    *
    * Note the C5 difference: [[runDaily]] feeds webtoon gold from the
    * episode gold TABLE; here the webtoon delta rebuilds the episode
    * rows from the same silver halo instead — equivalent because every
    * episode-gold row is a within-date function of silver
    * (IncrementalGoldSpec proves the equality), and it keeps the delta
    * free of a cross-table read-after-write ordering dependency. The
    * failure path mirrors [[runDaily]]: first failing stage writes a
    * C6 alert, invokes `onFailure`, rethrows.
    *
    * Silver AND every gold upsert also publish their per-batch CDC
    * entry ([[ChangeLog]]) keyed by the bronze watermark, and the
    * consumed delta's cleanse rejects land in the quarantine table —
    * the two audit surfaces a merge-maintained warehouse owes its
    * consumers.
    *
    * `collapseLogsUpTo` is the change-log retention hook: pass the
    * MINIMUM watermark across every registered log consumer and each
    * table's log folds its fully-consumed prefix into one net base
    * entry ([[ChangeLog.checkpoint]]) — without it the logs grow one
    * partition per update forever (~52k/year at the reference's
    * 10-minute cadence, a metadata scale-killer). Deriving that
    * minimum is the caller's job because consumers register outside
    * this function (their watermark files / streaming checkpoints are
    * theirs); a consumer left behind the boundary fails loud in
    * [[ChangeLog.readSince]], never silently double-reads. */
  def runDailyIncremental(spark: SparkSession, bronzeDir: String,
                          warehouseDir: String, watermark: Option[Long],
                          asOfUs: Long = Events.AsOfUs,
                          onFailure: (String, Throwable) => Unit =
                            (_, _) => (),
                          toSilver: org.apache.spark.sql.DataFrame =>
                            org.apache.spark.sql.DataFrame = null,
                          collapseLogsUpTo: Option[Long] = None)
      : Option[Long] = {
    val stage = new Stages(spark, warehouseDir, onFailure)
    val silverDir = s"$warehouseDir/silver_sessions"
    // Log-entry ids = bronze endpoint + the warehouse's durable CDC id
    // offset. The offset is 0 until a compliance op publishes out of
    // band ([[Forget.forgetUser]] bumps it past its own entries), and
    // from then on keeps the chain's ids strictly past every foreign
    // publish — log ids stay monotonic in publish order, which is the
    // invariant every readSince consumer's scalar position rests on.
    // Retry-stable: the offset only moves via the (single-writer)
    // compliance op, never by the chain itself, so a retried update
    // recomputes the same ids and converges through recordBatch's
    // keep-entry protocol exactly as before.
    val idOffset = cdcIdOffset(spark, warehouseDir)
    val d = stage("silver_incremental") {
      // Silver CDC is gated on the default derivation (a custom
      // toSilver may not be SessionKey-keyed — see
      // IncrementalSilver.updateDetailed).
      IncrementalSilver.updateDetailed(spark, bronzeDir, silverDir,
        watermark, asOfUs, toSilver,
        changeLog = toSilver == null,
        logIdOffset = idOffset)
    }
    // Dead-letter capture for the consumed delta (default harness chain
    // only — a custom toSilver owns its own cleanse semantics): the
    // delta's rejects land partitioned by SOURCE batch_id, so a retried
    // batch replaces its own partitions (idempotent) and the quarantine
    // mirrors bronze lineage — `readSince`/`readAsOf` work on it. The
    // invalid-watermark fallback re-reads the full bronze table, and
    // the partition list follows, converging the whole quarantine.
    // REPLACE-ON-RETRY is the intended audit semantics, not an
    // accident: the quarantine answers "what does the CURRENT cleanse
    // reject from each batch" — a retry after a cleanse-rule fix or a
    // bronze correction converges the batch's partition to the new
    // judgment (QuarantineSpec pins it), exactly like every other
    // derived table here. A forensic ledger of PAST judgments is a
    // different artifact: snapshot the quarantine before changing
    // rules, or diff it with ops.TableDiff — deliberately not a
    // second change log (the quarantine is already batch-lineage).
    if (toSilver == null && d.watermark != watermark)
      stage("quarantine") {
        // One listing serves the delta read and its batch ids.
        val ids = Incremental.batches(spark, bronzeDir)
        Interpreted.run(spark) {
          MergeUpsert.replacePartitions(spark,
            s"$warehouseDir/quarantine_events",
            Events.rejects(Events.enrich(Incremental.readSince(
              spark.read.parquet(bronzeDir), ids, watermark))),
            Incremental.batchesSince(ids, watermark),
            partitionCol = "batch_id")
        }
      }
    d.affectedUsers.foreach { users =>
      val silver = spark.read.parquet(silverDir)
      // CDC: every gold upsert publishes its per-batch change table
      // ([[ChangeLog]]), keyed by the ENDPOINT watermark this update
      // consumed — one entry per UPDATE, not per bronze batch: an
      // update that drains several bronze batches (e.g. the first run
      // with watermark=None) logs the whole span under its endpoint
      // id, so intermediate bronze ids never exist in the log and
      // readAsOf on one fails its lineage check. Consumers therefore
      // tail with ChangeLog.readSince (any watermark ≥ the collapse
      // boundary filters correctly), never readAsOf on arbitrary
      // bronze ids. A retried update overwrites its own log partition.
      val cdc = d.watermark.map(_ + idOffset)
      val userGold = IncrementalGold.UserGoldTable
      stage(userGold) {
        IncrementalGold.userDailyDelta(spark, silver,
          s"$warehouseDir/$userGold", users, cdc)
      }
      IncrementalGold.dateGolds.foreach { g =>
        stage(g.table) {
          g.delta(spark, Some(silver), s"$warehouseDir/${g.table}",
            d.affectedDates, cdc)
        }
      }
    }
    // Log retention (the compaction tail of the CDC surface): fold
    // each table's fully-consumed log prefix into its net base entry.
    // Runs AFTER every publish of this update so the fold sees a
    // consistent log, and only up to the caller-supplied minimum
    // consumer watermark — never past what someone still owes a read.
    collapseLogsUpTo.foreach { upTo =>
      stage("log_collapse") {
        loggedTables.foreach { case (t, keys) =>
          ChangeLog.checkpoint(spark, s"$warehouseDir/$t", keys, upTo)
        }
      }
    }
    d.watermark
  }

  /** LOGIC-CHANGE REPROCESS over a logged warehouse — the non-blind
    * full recompute the cdc_guard's refusal points to. `runDaily`
    * refuses to full-recompute a logged warehouse because rewriting
    * tables without publishing the delta breaks every consumer's
    * replay contract; retiring the logs costs every consumer a
    * re-seed. This is the third way: re-consume ALL of bronze through
    * the incremental chain (watermark = None) so every table
    * converges to the new logic's answer AND publishes what changed
    * as ordinary log entries — consumers replay/refresh across the
    * logic change with no re-seed.
    *
    * The one discipline a reprocess needs beyond `watermark = None`
    * is a FRESH id: the chain already published an entry at the
    * current endpoint id, and [[ChangeLog.recordBatch]] would read a
    * same-producer re-publish at that id as a crash retry — keeping
    * the OLD entry and silently dropping the logic change's delta
    * (the exact loss mode the keep-entry rule exists to prevent on
    * real retries). So the warehouse's durable CDC id offset bumps
    * past every published entry first ([[reserveCdcId]]), and the
    * reprocess lands at ids strictly after the history it revises.
    * Ids stay monotonic;
    * `readSince` consumers see the change as one more span.
    *
    * Use it for: a cleanse-rule fix, a sessionization-parameter
    * change (`asOfUs`), any logic revision that must propagate
    * through a logged warehouse. Cost: one full bronze re-consume —
    * O(bronze), the honest bill of a logic change; the publication
    * rides the same scoped diffs as every incremental update.
    * Crash-retry: the offset bump is durable-first; a retry that
    * finds entries from the partial first attempt computes a HIGHER
    * fresh id (their head moved the max) and completes the revision
    * there — the first attempt's entries stand, unfinished tables
    * publish their still-pending delta, finished ones publish an
    * empty entry. Ids stay monotonic and every table converges;
    * consumers just see the revision arrive as two spans. */
  def reprocessPublishing(spark: SparkSession, bronzeDir: String,
                          warehouseDir: String,
                          asOfUs: Long = Events.AsOfUs,
                          onFailure: (String, Throwable) => Unit =
                            (_, _) => (),
                          toSilver: org.apache.spark.sql.DataFrame =>
                            org.apache.spark.sql.DataFrame = null)
      : Option[Long] = {
    // Nothing ingested — nothing to reprocess.
    if (Incremental.highWatermark(spark, bronzeDir).isEmpty) return None
    reserveCdcId(spark, bronzeDir, warehouseDir, publish = true)
    runDailyIncremental(spark, bronzeDir, warehouseDir,
      watermark = None, asOfUs = asOfUs, onFailure = onFailure,
      toSilver = toSilver)
  }

  /** The warehouse's durable CDC id-offset file: log-entry ids for
    * every [[loggedTables]] log are `bronze endpoint + offset`. The
    * offset exists for exactly one reason — to keep the id space of
    * the chain and of out-of-band publishers DISJOINT. The streaming
    * loop's ids come from the engine's epoch counter, which nothing
    * external can advance; a compliance op that publishes "past the
    * high watermark" ([[Forget.forgetUser]]'s aggregate deltas) would
    * therefore take exactly the id the next micro-batch uses, and
    * [[ChangeLog.recordBatch]]'s keep-entry rule would silently drop
    * one of the two deltas. Instead the op bumps this offset past its
    * own entries, and every later chain id lands strictly after them
    * — ids stay monotonic in publish order with no coordination, and
    * the producer-marker guard in recordBatch backstops any caller
    * outside this discipline. */
  def cdcIdOffsetPath(warehouseDir: String): String =
    s"$warehouseDir/cdc_id_offset"

  def cdcIdOffset(spark: SparkSession, warehouseDir: String): Long =
    Incremental.loadWatermark(spark, cdcIdOffsetPath(warehouseDir))
      .getOrElse(0L)

  /** The one out-of-band publish-id reservation ([[Forget]],
    * [[Retention]], [[reprocessPublishing]]): the next id is one past
    * both the chain's current endpoint id (bronze high watermark +
    * offset) and every logged table's log head. When `publish` — only
    * an op that will publish owns an id worth reserving; a no-op must
    * not widen the id space — the durable offset is bumped BEFORE the
    * op publishes, so that the chain's next endpoint (at least the
    * bronze high watermark + 1, or 0 with no bronze) lands strictly
    * past the reserved id. Returns the reserved id. */
  private[graft] def reserveCdcId(spark: SparkSession, bronzeDir: String,
                                  warehouseDir: String,
                                  publish: Boolean): Long = {
    val idOffset = cdcIdOffset(spark, warehouseDir)
    val bronzeHw = Incremental.highWatermark(spark, bronzeDir)
    val next = 1L + ((bronzeHw.getOrElse(0L) + idOffset) +:
      loggedTables.map { case (t, _) =>
        Incremental.highWatermark(spark,
          ChangeLog.logDir(s"$warehouseDir/$t")).getOrElse(0L)
      }).max
    val bumped = next + 1L - bronzeHw.fold(0L)(_ + 1L)
    if (publish && bumped > idOffset)
      Incremental.saveWatermark(spark, cdcIdOffsetPath(warehouseDir),
        bumped)
    next
  }

  /** CONSISTENT CROSS-TABLE TIME TRAVEL: the warehouse's logged
    * tables, each reconstructed AS OF log position `pos`
    * ([[ChangeLog.snapshotAt]]). Consistency is free by construction:
    * every chain update publishes ALL tables' entries under ONE id
    * (the bronze endpoint + offset), so a single `pos` names the same
    * update boundary in every log — the returned map is the warehouse
    * exactly as update `pos` left it, even while a later update is
    * mid-flight. The other half of the snapshot story:
    * [[Incremental.readAsOf]] covers the batch-append layouts
    * (bronze, quarantine), this covers the merge-maintained ones.
    * Tables without a log (or not yet created) are omitted — absent,
    * not empty. */
  def warehouseAt(spark: SparkSession, warehouseDir: String,
                  pos: Long): Map[String, org.apache.spark.sql.DataFrame] =
    loggedTables.flatMap { case (t, keys) =>
      val dir = s"$warehouseDir/$t"
      if (ChangeLog.hasLog(spark, dir))
        Some(t -> ChangeLog.snapshotAt(spark, dir, keys, pos))
      else None
    }.toMap

  /** The incremental chain's CDC-logged tables and their row keys —
    * one source of truth shared by the collapse hook and any consumer
    * that tails the logs. (The sketch gold logs at its CONTRACT grain:
    * per-date estimate, not the build-order-dependent bytes.) */
  def loggedTables: Seq[(String, Seq[String])] =
    Seq("silver_sessions" -> graft.silver.Sessionize.SessionKey,
      IncrementalGold.UserGoldTable -> IncrementalGold.UserGoldKeys) ++
      IncrementalGold.dateGolds.map(g => g.table -> g.keys)
}
