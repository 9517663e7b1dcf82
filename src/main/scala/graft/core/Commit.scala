package graft.core

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.SparkSession

/** The crash-safe commit protocol of every stateful maintenance store:
  * keyed batch units (the profile store, legacy dedup-index appends) and
  * generation snapshots (the IVM `min`/`topk` folds). Every on-disk name
  * the protocol uses is spelled here and nowhere else.
  *
  * Data lands under a deterministic name a rerun overwrites in place, and
  * ONE create-no-overwrite file under `_commits/` (a conditional PUT on an
  * object store) makes it visible; readers skip data without one, so a
  * torn write is never read. No step needs an atomic directory rename, so
  * the protocol holds on POSIX, HDFS and object stores alike.
  *
  * A crash leaves nothing visible (the rerun redoes the batch) or the
  * whole batch (the rerun skips it). Stores are single-writer: a failed
  * conditional create means another writer committed concurrently and is
  * surfaced, never merged. On plain S3A without conditional-create support
  * that create degrades to check-then-act, so lost-race DETECTION is
  * best-effort there — the single-writer contract is the boundary.
  *
  * Stores written by the retired rename protocol still read: a
  * `batch-<key>` unit or `state-<n>` generation is its own commit record,
  * and its hidden `.tmp-*`/`.state-tmp-*` leftovers are never read.
  */
object Commit {

  private val Commits = "_commits"
  private val Applied = "_applied"
  private val RenamedUnitPrefix = "batch-" // rename-era units, read only
  private val UnitPrefix = "batch-p-"
  private val StatePrefix = "state-"
  private val BatchKeyFile = "_batch_key"

  /** Injective batch key for idempotent maintenance folds: sanitized
    * source path + a hash of the RAW path (sanitizing alone can collide —
    * `/a/b` vs `/a_b` — which would silently replace or skip a batch). */
  def batchKeyFor(src: String): String = s"${legacyBatchKeyFor(src)}-${sha6(src)}"

  /** The pre-r8 key format (sanitized path, no hash suffix) — still
    * ACCEPTED when checking applied-ness so stores written before the
    * injective-key change don't re-fold their batches; never written. */
  private def legacyBatchKeyFor(src: String): String =
    src.replaceAll("[^A-Za-z0-9._-]", "_")

  private def batchKeys(src: String) = Seq(batchKeyFor(src), legacyBatchKeyFor(src))

  private def sha6(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(UTF_8)).take(6).map("%02x".format(_)).mkString

  def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  def writeText(fs: FileSystem, p: Path, text: String,
                overwrite: Boolean = true): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  /** The store rooted at `root`. */
  def apply(spark: SparkSession, root: String): Store = {
    val p = new Path(root)
    new Store(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  final class Store private[Commit] (fs: FileSystem, root: Path) {

    private def dir(table: String) = if (table.isEmpty) root else new Path(root, table)

    private def list(d: Path): Seq[FileStatus] =
      if (fs.exists(d)) fs.listStatus(d).toSeq else Seq.empty

    private def committed: Set[String] =
      list(new Path(root, Commits)).map(_.getPath.getName).toSet

    /** Write one unit through `write` at `data`, unread until its commit;
      * a crashed attempt's leftovers under the same name are cleared first. */
    private def unit(data: Path)(write: String => Unit): Path = {
      fs.delete(data, true)
      write(data.toString)
      data
    }

    /** Create `_commits/<name>` holding `text`, never overwriting: a file
      * already there means another writer committed `name` first.
      * `onLost` cleans up before the race is surfaced. */
    private def commit(name: String, text: String)(onLost: => Unit): Unit = {
      val marker = new Path(new Path(root, Commits), name)
      fs.mkdirs(marker.getParent)
      try writeText(fs, marker, text, overwrite = false)
      catch {
        case e: java.io.IOException if fs.exists(marker) =>
          onLost
          throw new IllegalStateException(s"publish lost a commit " +
            s"race at $marker — another writer committed concurrently; " +
            "stores are single-writer", e)
      }
    }

    /** Pre-r9 stores recorded appliedness as a SEPARATE, not crash-atomic
      * `_applied/<key>` marker. Those markers stay honored, under both key
      * formats, so a migrated store never re-applies the batch at `src`. */
    def markerApplied(src: String): Boolean =
      batchKeys(src).exists(k => fs.exists(new Path(new Path(root, Applied), k)))

    /** The key the batch at `src` is stored under in a store partitioned
      * by `column`: the pre-r8 key when a partition already holds it, so
      * an overwrite REPLACES it instead of double-counting the batch. */
    def partitionKey(src: String, column: String): String =
      Some(legacyBatchKeyFor(src))
        .filter(k => fs.exists(new Path(root, s"$column=$k")))
        .getOrElse(batchKeyFor(src))

    /** Write the rows `write` stores in the dir it is given as table
      * `table` ("" = the store root) of batch `key`: `<table>/batch-p-<key>`,
      * visible after [[commitBatch]]. A rename-era `batch-<key>` unit of
      * the same key is a crashed batch's partial output and goes first, so
      * the batch is never read twice. Returns the data dir. */
    def putBatch(table: String, key: String)(write: String => Unit): String = {
      fs.delete(new Path(dir(table), s"$RenamedUnitPrefix$key"), true)
      unit(new Path(dir(table), s"$UnitPrefix$key"))(write).toString
    }

    /** Make batch `key` visible once all its tables are put. */
    def commitBatch(key: String): Unit = commit(key, "")(())

    /** True iff batch `key` is fully published: its `_commits/<key>`, or
      * a rename-era unit of `lastTable` (the table put last). */
    def applied(key: String, lastTable: String = ""): Boolean =
      fs.exists(new Path(dir(lastTable), s"$RenamedUnitPrefix$key")) ||
        fs.exists(new Path(new Path(root, Commits), key))

    /** The readable data paths of `table` ("" = the store root): root-level
      * files (plain appends), committed units and rename-era units — never
      * a hidden temp dir or an uncommitted unit. Fails on none. */
    def published(table: String = ""): Seq[String] = {
      val commits = committed
      val paths = list(dir(table)).filter { st =>
        val n = st.getPath.getName
        !n.startsWith(".") && !n.startsWith("_") &&
          !(st.isDirectory && n.startsWith(UnitPrefix) &&
            !commits.contains(n.stripPrefix(UnitPrefix)))
      }.map(_.getPath.toString)
      if (paths.isEmpty) throw new IllegalStateException(
        s"no published batches under ${dir(table)}")
      paths
    }

    /** Re-record every batch applied here in the store at `to` — as
      * `_commits/<key>` files, pre-r9 `_applied` markers copied — so a
      * store rewritten from this one's rows still skips every batch. */
    def carryAppliedTo(to: String): Unit = {
      val dst = new Store(fs, new Path(to))
      val renameKeys = list(root).map(_.getPath.getName)
        .filter(n => n.startsWith(RenamedUnitPrefix) && !n.startsWith(UnitPrefix))
        .map(_.stripPrefix(RenamedUnitPrefix))
      (committed ++ renameKeys).foreach(k => if (!dst.applied(k)) dst.commit(k, "")(()))
      val legacy = new Path(root, Applied)
      if (fs.exists(legacy))
        FileUtil.copy(fs, legacy, fs, new Path(to, Applied), false, fs.getConf)
    }

    // Generation snapshots: each applied batch publishes a COMPLETE next
    // state plus a `_batch_key` file, so the applied record travels inside
    // the unit: the data goes to `state-p-<n>-<keyhash>` and `_commits/<n>`
    // holds that name. Rename-era `state-<n>` generations, and a flat
    // `state` dir from before snapshots (the base), still read.

    private case class Gen(n: Int, data: Path, record: Option[Path])

    private def generations: Seq[Gen] = {
      val renamed = list(root)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(StatePrefix))
        .flatMap(s => s.getPath.getName.stripPrefix(StatePrefix).toIntOption
          .map(Gen(_, s.getPath, None)))
      val recorded = list(new Path(root, Commits)).flatMap(s =>
        s.getPath.getName.toIntOption.map(n =>
          Gen(n, new Path(root, readText(fs, s.getPath).trim), Some(s.getPath))))
      renamed ++ recorded
    }

    // a commit record whose data dir is gone is not a readable generation
    private def live: Seq[Gen] =
      generations.filter(g => g.record.isEmpty || fs.exists(g.data))

    /** The newest published state directory, if any. */
    def current: Option[String] =
      live.maxByOption(_.n).map(_.data)
        .orElse(Some(new Path(root, "state")).filter(fs.exists))
        .map(_.toString)

    /** True iff the batch at `src` is folded in: a published generation's
      * `_batch_key` or a marker holds its key, in either format (ignoring
      * the pre-r8 key would re-fold it: min double-counts n_rows). */
    def folded(src: String): Boolean = {
      val keys = batchKeys(src)
      live.exists { g =>
        val f = new Path(g.data, BatchKeyFile)
        fs.exists(f) && keys.contains(readText(fs, f))
      } || markerApplied(src)
    }

    /** Publish the state `write` stores in the directory it is given as
      * the next generation, folding in the batch at `src`. A lost commit
      * race means the fold read stale state; retrying would silently drop
      * the other writer's batch, so it surfaces. */
    def publishState(src: String)(write: String => Unit): Unit = {
      val key = batchKeyFor(src)
      val n = live.map(_.n).maxOption.getOrElse(0) + 1
      // the data dir is unique per (n, batch): a crashed attempt left the
      // SAME name uncommitted, so the rerun overwrites it in place
      val data = unit(new Path(root, f"${StatePrefix}p-$n%06d-${sha6(key)}")) { d =>
        write(d)
        writeText(fs, new Path(d, BatchKeyFile), key)
      }
      commit(f"$n%06d", data.getName)(fs.delete(data, true))
    }

    /** Retire all but the newest `keep` (at least 1) generations; older
      * ones only exist so a crash mid-publish keeps a complete predecessor.
      * Each retired batch key is FIRST re-recorded as an `_applied` marker,
      * so a replay still skips: a crash between marker and delete is
      * merely redundant, and the current generation is never touched. */
    def prune(keep: Int): Unit =
      generations.sortBy(_.n).dropRight(math.max(1, keep)).foreach { g =>
        val bk = new Path(g.data, BatchKeyFile)
        if (fs.exists(bk)) {
          val marker = new Path(new Path(root, Applied), readText(fs, bk))
          if (!fs.exists(marker)) writeText(fs, marker, "")
        }
        g.record.foreach(fs.delete(_, false))
        fs.delete(g.data, true)
      }
  }
}
