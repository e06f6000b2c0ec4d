package graft.runtime

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Change-log CONSUMER REGISTRY — the collapse boundary derived from
  * the consumers instead of trusted from the caller. Before this,
  * [[ChangeLog.checkpoint]] folded wherever it was told: a watermark
  * computed without knowing about some laggard persisted view
  * silently collapsed the entries the view still owed a read, and the
  * view's next refresh failed loud with "re-seed from a snapshot" —
  * correct, but a full-recompute bill an operational mistake should
  * not be able to incur. The reference guards its Silver consumers
  * with the same move in reverse: a snapshot-lineage validity walk
  * before each incremental hop (`airflow/dags/silver_dag.py:65-88`).
  *
  * Each consumer of a table's log registers its POSITION — the
  * highest `batch_id` it has fully applied — under a stable name in a
  * `_consumers` sibling directory of the log (a sibling, never inside
  * the log root: the log's first publish `mode("overwrite")`s that
  * root). [[ChangeLog.checkpoint]] then clamps every requested fold
  * to `min` over registered positions, so a laggard BLOCKS the
  * collapse at its position and the fold proceeds exactly as far as
  * the slowest consumer allows. Every persisted view
  * ([[StarJoinView]], [[MaterializedView.refreshByRecompute]])
  * registers automatically on each refresh; a custom
  * tail (a [[ChangeLog.stream]] consumer, a downstream job on
  * [[ChangeLog.readSince]]) calls [[register]] itself after each
  * applied span — the position it registers is the watermark it
  * would pass to `readSince` next time.
  *
  * A registration may carry the consumer's VIEW DIRECTORY: that is
  * the hook compliance ops need to reach the consumer's STATE —
  * [[Forget.forgetUser]] invalidates each registered view of a log
  * it purges (the view's aggregates were computed from row images
  * that no longer exist), and the view's next refresh re-seeds from
  * the purged base instead of serving stale personal-data-derived
  * numbers.
  *
  * Scale shape: one tiny file per consumer, read by listing one
  * directory — metadata-scale, no data path touches it. Registration
  * is atomic (the runtime's sidecar protocol,
  * [[Incremental.writeText]]), written AFTER the consumer's own state
  * commits: a crash between the two leaves the registry one refresh
  * behind — conservative for the collapse (it folds less), never
  * unsafe. */
object Consumers {

  /** The registry of the log of the table at `tableDir`. */
  def dir(tableDir: String): String =
    ChangeLog.logDir(tableDir) + "_consumers"

  /** One registered consumer: position = highest applied batch_id;
    * viewDir = the consumer's state directory, when it has one;
    * refreshedAt = epoch millis of the last [[register]] call (0 for
    * a pre-stamp registration) — the liveness signal operational
    * tooling reads to spot a decommissioned consumer whose position
    * would otherwise pin the collapse forever.
    *
    * `observer = true` marks a NON-BLOCKING registration — a consumer
    * that wants to be LISTED (so operational tooling can see which
    * derived state a maintenance op will touch) but must never clamp
    * the collapse, because its state is a PURE CACHE: recomputable
    * from the current inputs alone, no log span owed. The observer
    * contract is therefore also a compliance contract — its viewDir
    * may be DELETED outright by [[Forget]]/[[Retention]] (a cache
    * holding purged rows must not outlive the purge, and deletion is
    * always safe where recompute is always possible). Blocking
    * consumers ([[StarJoinView]], [[MaterializedView]], [[Scd2Store]])
    * get the gentler [[MaterializedView.invalidate]] marker instead. */
  case class Registration(name: String, position: Long,
                          viewDir: Option[String],
                          refreshedAt: Long = 0L,
                          observer: Boolean = false)

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def validName(name: String): Boolean =
    name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-' || c == '.') &&
      !name.startsWith("_") && !name.startsWith(".")

  /** Register (or advance) consumer `name` at `position` — call AFTER
    * the span up to `position` is durably applied to the consumer's
    * own state. Idempotent for the collapse (same position ⇒ same
    * clamp), but every call REFRESHES the liveness stamp — that is
    * deliberate: a live consumer that holds position P across many
    * refreshes (nothing new to apply) keeps proving it is alive, so
    * staleness surfacing ([[staleClamps]]) never misnames it.
    * Positions may also move BACKWARD deliberately (a consumer
    * restored from an older checkpoint re-registers lower, and the
    * collapse respects it). */
  def register(spark: SparkSession, tableDir: String, name: String,
               position: Long, viewDir: Option[String] = None,
               observer: Boolean = false): Unit = {
    require(validName(name),
      s"consumer name '$name' must be a non-empty [A-Za-z0-9_.-]+ " +
        "token not starting with '_' or '.' (it names the registry " +
        "file; leading underscore/dot names are reserved sidecars)")
    Incremental.writeText(spark, new Path(dir(tableDir), name),
      position.toString + "\n" + viewDir.getOrElse("") + "\n" +
        System.currentTimeMillis().toString + "\n" +
        (if (observer) "observer" else ""))
  }

  /** POINTER (indirect) registration — [[register]] for a consumer
    * whose positions are COMMITTED ELSEWHERE in one atomic
    * multi-position file ([[StarJoinView]]'s
    * vector file). The registry entry stores only
    * a STATIC pointer — the file's path and which comma-separated
    * component is this log's position — and [[list]] resolves the
    * position by reading that file at listing time (one tiny read,
    * metadata-scale). Because every side of a multi-log view points
    * at the SAME file, the registries can never disagree about the
    * view's applied positions: advancing the file IS advancing every
    * registration, one rename — the multi-entry atomic registration
    * the write-a-then-write-b sequence could only approximate. A
    * missing or torn pointer target resolves to −1 (clamps every
    * fold — conservative: the states that produce it are
    * pre-first-commit or crash-before-position-commit, and the view
    * heals both on its next refresh). Re-registering only refreshes
    * the liveness stamp; there is no per-refresh position write left
    * to tear. */
  def registerPointer(spark: SparkSession, tableDir: String,
                      name: String, posPath: String, component: Int,
                      viewDir: Option[String] = None): Unit = {
    require(validName(name),
      s"consumer name '$name' must be a non-empty [A-Za-z0-9_.-]+ " +
        "token not starting with '_' or '.'")
    require(component >= 0,
      "component must index a position in the pointer target")
    Incremental.writeText(spark, new Path(dir(tableDir), name),
      s"@pos $component $posPath\n" + viewDir.getOrElse("") + "\n" +
        System.currentTimeMillis().toString + "\n")
  }

  /** Resolve a pointer registration's position: component `i` of the
    * comma-separated longs in `posPath`, −1 when the file is missing,
    * torn, or too short (see [[registerPointer]] — conservative). */
  private def resolvePointer(spark: SparkSession, posPath: String,
                             component: Int): Long = {
    val text =
      try Incremental.readText(spark, new Path(posPath)).getOrElse("")
      catch { case _: java.io.IOException => "" }
    text.trim.split(",").lift(component).flatMap(_.trim.toLongOption)
      .getOrElse(-1L)
  }

  /** Drop consumer `name` from the registry — a retired consumer must
    * unregister, or its last position pins the collapse forever. */
  def unregister(spark: SparkSession, tableDir: String,
                 name: String): Unit = {
    val p = new Path(dir(tableDir), name)
    val f = fs(spark, p)
    if (f.exists(p)) f.delete(p, false)
  }

  private def read(spark: SparkSession, tableDir: String,
                   name: String): Option[Registration] = {
    val text = Incremental.readText(spark, new Path(dir(tableDir), name))
    if (text.isEmpty) return None
    val lines = text.get.split("\n", 4)
    val head0 = lines.headOption.map(_.trim).getOrElse("")
    if (head0.startsWith("@pos ")) {
      // Pointer registration ([[registerPointer]]): resolve the
      // position from the atomically-committed target file.
      head0.split(" ", 3) match {
        case Array(_, comp, path) =>
          comp.toIntOption.map { c =>
            val vd = lines.lift(1).map(_.trim).filter(_.nonEmpty)
            val at =
              lines.lift(2).flatMap(_.trim.toLongOption).getOrElse(0L)
            Registration(name, resolvePointer(spark, path, c), vd, at)
          }
        case _ => None // malformed — list() fails loud
      }
    } else lines.headOption.flatMap(_.trim.toLongOption).map { pos =>
      val vd = lines.lift(1).map(_.trim).filter(_.nonEmpty)
      val at = lines.lift(2).flatMap(_.trim.toLongOption).getOrElse(0L)
      val obs = lines.lift(3).exists(_.trim == "observer")
      Registration(name, pos, vd, at, obs)
    }
  }

  /** Every registered consumer of the table's log. Registrations land
    * by atomic rename, so a partial file is unreachable in practice; a
    * hand-damaged file fails loud here rather than being silently
    * dropped from the [[minPosition]] clamp. Leading-underscore/dot
    * entries are registry sidecars (the clamp ledger), not consumers. */
  def list(spark: SparkSession, tableDir: String): Seq[Registration] = {
    val d = new Path(dir(tableDir))
    val f = fs(spark, d)
    if (!f.exists(d)) return Seq.empty
    f.listStatus(d).toIndexedSeq
      .filter(st => st.isFile && !Incremental.isTemp(st.getPath) &&
        !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map { st =>
        val n = st.getPath.getName
        read(spark, tableDir, n).getOrElse(sys.error(
          s"unreadable consumer registration ${st.getPath}: fix or " +
            "remove it — silently ignoring it would let the collapse " +
            "fold past this consumer's position"))
      }
      .sortBy(_.name)
  }

  /** The collapse clamp: the minimum position across registered
    * BLOCKING consumers (observers never clamp — their state is
    * recomputable, no log span owed), or None when none are
    * registered (the caller's watermark then stands alone, the
    * pre-registry discipline). */
  def minPosition(spark: SparkSession, tableDir: String): Option[Long] =
    list(spark, tableDir).filterNot(_.observer).map(_.position).minOption

  /** Compliance sweep over every registered consumer of the table's
    * log — called by [[Forget.forgetUser]] / [[Retention.expireBefore]]
    * after purging the table or its log. Blocking consumers' state is
    * MARKED invalid ([[MaterializedView.invalidate]] — their next
    * refresh discards and re-seeds); observers' state is DELETED
    * outright, the observer contract: a pure cache is always
    * recomputable, and a materialization that may hold purged rows
    * must not outlive the purge on disk (a mere signature mismatch
    * prevents a stale SERVE but leaves the bytes until the next
    * serve). The registration itself stays — the next serve/refresh
    * re-registers, and the listing stays informative meanwhile. */
  def invalidateAll(spark: SparkSession, tableDir: String): Unit =
    list(spark, tableDir).foreach { r =>
      r.viewDir.foreach { vd =>
        if (r.observer) {
          val p = new Path(vd)
          val f = fs(spark, p)
          if (f.exists(p)) f.delete(p, true)
        } else MaterializedView.invalidate(spark, vd)
      }
    }

  // ------------------------------------------------------------------
  // Staleness surfacing — the clamp ledger.
  //
  // A retired consumer that never unregistered pins the collapse at
  // its last position FOREVER, and the log grows unbounded — the exact
  // metadata scale-killer the collapse exists to prevent, reintroduced
  // by operational forgetfulness. Correctness demands the dead
  // consumer STILL block (the registry cannot know it is dead, only an
  // operator can); what it must not do is block SILENTLY. So
  // [[ChangeLog.checkpoint]] records, per consumer, how many
  // SUCCESSIVE checkpoints that consumer's position has clamped the
  // fold below the requested watermark; at [[WarnAfterClamps]] the
  // checkpoint names it in a loud stderr warning with the remedy
  // (catch the consumer up, or `unregister` if decommissioned). The
  // count resets the moment the consumer's position advances past a
  // requested fold — a merely-slow consumer that eventually catches up
  // never accumulates.

  /** Successive clamped checkpoints before a consumer is named. */
  val WarnAfterClamps = 3

  private def clampsPath(tableDir: String) =
    new Path(dir(tableDir), "_clamps")

  /** One blocking consumer as the ledger sees it: the position it has
    * been clamping at and for how many successive checkpoints. */
  case class Clamp(name: String, position: Long, count: Int)

  /** The current clamp ledger (empty when no checkpoint has been
    * clamped since the blockers last advanced). */
  def staleClamps(spark: SparkSession, tableDir: String): Seq[Clamp] = {
    val text = Incremental.readText(spark, clampsPath(tableDir))
    text.toSeq.flatMap(_.split("\n")).map(_.trim).filter(_.nonEmpty)
      .map { line =>
        val Array(n, pos, c) = line.split("\t", 3)
        Clamp(n, pos.toLong, c.toInt)
      }
  }

  /** Record one clamped checkpoint: `blockers` are the consumers whose
    * registered position equals the clamped boundary while the caller
    * asked to fold further. Their ledger counts increment (same
    * position only — an advanced position starts over at 1); every
    * non-blocking consumer's entry drops. Returns the consumers at or
    * past [[WarnAfterClamps]], which [[ChangeLog.checkpoint]] surfaces
    * by name. An UNCLAMPED checkpoint calls this with no blockers,
    * clearing the ledger. */
  private[runtime] def noteClamp(spark: SparkSession, tableDir: String,
                                 blockers: Seq[Registration]): Seq[Clamp] = {
    val prior = staleClamps(spark, tableDir)
      .map(c => (c.name, c.position) -> c.count).toMap
    val next = blockers.map { r =>
      Clamp(r.name, r.position,
        prior.getOrElse((r.name, r.position), 0) + 1)
    }
    val p = clampsPath(tableDir)
    if (next.nonEmpty)
      Incremental.writeText(spark, p,
        next.map(c => s"${c.name}\t${c.position}\t${c.count}")
          .mkString("\n"))
    else fs(spark, p).delete(p, false)
    val stale = next.filter(_.count >= WarnAfterClamps)
    stale.foreach { c =>
      System.err.println(
        s"WARN [graft.Consumers] consumer '${c.name}' has clamped the " +
          s"change-log collapse of $tableDir at position ${c.position} " +
          s"for ${c.count} successive checkpoints — the log cannot fold " +
          "past it and grows unbounded. If the consumer is live, catch " +
          "it up (refresh the view); if decommissioned, " +
          s"Consumers.unregister(tableDir, \"${c.name}\").")
    }
    stale
  }
}
