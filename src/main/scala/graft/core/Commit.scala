package graft.core

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The crash-safe commit protocol of every stateful maintenance store.
  * Every config fold — the profile store and the IVM `group`/`min`/`topk`
  * views — publishes its next state as one generation snapshot through
  * [[Store.fold]]; keyed batch units serve only the legacy (unbucketed)
  * dedup-index layout. Every on-disk name the protocol uses is spelled
  * here and nowhere else.
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
  * Stores written by earlier layouts still read: a `batch-<key>` unit or
  * `state-<n>` generation is its own commit record, and its hidden
  * `.tmp-*`/`.state-tmp-*` leftovers are never read. A fold store without
  * generations — a flat `state` dir, the profile store's root files and
  * keyed units, the group view's `_batch_key=<key>` partitions — is the
  * first fold's base, and every batch it recorded stays folded.
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
    new Store(spark, p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  final class Store private[Commit] (spark: SparkSession, fs: FileSystem,
                                     root: Path) {

    private def dir(table: String) = if (table.isEmpty) root else new Path(root, table)

    private def list(d: Path): Seq[FileStatus] =
      if (fs.exists(d)) fs.listStatus(d).toSeq else Seq.empty

    private def names(d: Path): Set[String] = list(d).map(_.getPath.getName).toSet

    /** The readable data paths under `d`: files and dirs (plain appends, a
      * flat `state` dir), committed and rename-era units and `_batch_key=`
      * partitions — never a hidden temp dir, an uncommitted unit or a
      * generation dir. */
    private def readable(d: Path, commits: Set[String]): Seq[String] =
      list(d).filter { st =>
        val n = st.getPath.getName
        n.startsWith(s"$BatchKeyFile=") ||
          !n.startsWith(".") && !n.startsWith("_") && !n.startsWith(StatePrefix) &&
            !(st.isDirectory && n.startsWith(UnitPrefix) &&
              !commits.contains(n.stripPrefix(UnitPrefix)))
      }.map(_.getPath.toString)

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

    // Keyed batch units (the legacy dedup-index layout): each table of a
    // batch lands as `<table>/batch-p-<key>` and `_commits/<key>` makes
    // the whole batch visible.

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
    def applied(key: String, lastTable: String): Boolean =
      fs.exists(new Path(dir(lastTable), s"$RenamedUnitPrefix$key")) ||
        fs.exists(new Path(new Path(root, Commits), key))

    /** The readable data paths of `table`: root-level files (plain
      * appends), committed units and rename-era units — never a hidden temp
      * dir or an uncommitted unit. Fails on none. */
    def published(table: String): Seq[String] = {
      val paths = readable(dir(table), names(new Path(root, Commits)))
      if (paths.isEmpty) throw new IllegalStateException(
        s"no published batches under ${dir(table)}")
      paths
    }

    // Generation snapshots: each folded batch publishes a COMPLETE next
    // state plus a `_batch_key` file, so the applied record travels inside
    // the unit: the data goes to `state-p-<n>-<keyhash>` and `_commits/<n>`
    // holds that name. Rename-era `state-<n>` generations still read.

    private case class Gen(n: Int, data: String, record: Option[Path])

    /** One look at the store: its root names, its `_commits` names and
      * every generation, each record read once. A record whose data dir
      * is gone is not a `live` generation. */
    private final class Listing {
      val names: Set[String] = Store.this.names(root)
      private val records = list(new Path(root, Commits))
      val commits: Set[String] = records.map(_.getPath.getName).toSet
      val gens: Seq[Gen] =
        names.toSeq.filter(_.startsWith(StatePrefix)).flatMap(n =>
          n.stripPrefix(StatePrefix).toIntOption.map(Gen(_, n, None))) ++
          records.flatMap(s => s.getPath.getName.toIntOption.map(n =>
            Gen(n, readText(fs, s.getPath).trim, Some(s.getPath))))
      val live: Seq[Gen] = gens.filter(g => names.contains(g.data))
    }

    private def load(schema: StructType, paths: String*): DataFrame =
      spark.read.schema(schema).parquet(paths: _*)

    /** The state `l` shows, read as `schema` so no inference job runs: the
      * newest generation; else the parent-format data, which `base` turns
      * into a state (the first fold's base); else None. */
    private def read(l: Listing, schema: StructType,
                     base: DataFrame => DataFrame): Option[DataFrame] =
      l.live.maxByOption(_.n) match {
        case Some(g) => Some(load(schema, new Path(root, g.data).toString))
        case None =>
          val paths = readable(root, l.commits)
          Option.when(paths.nonEmpty)(base(load(schema, paths: _*)))
      }

    /** The current state read as `schema` (see [[fold]] for `base`); None
      * when the store is empty. */
    def state(schema: StructType, base: DataFrame => DataFrame): Option[DataFrame] =
      read(new Listing, schema, base)

    /** True iff the batch at `src` is folded in, under either key format
      * (ignoring the pre-r8 key would re-fold it: min double-counts
      * n_rows): a live generation's `_batch_key`, or a parent-format
      * record — `_commits/<key>`, a rename-era `batch-<key>` unit, a
      * `_batch_key=<key>` partition or an `_applied` marker. */
    private def folded(src: String, l: Listing): Boolean = {
      val keys = batchKeys(src)
      keys.exists(k => l.commits(k) || l.names(s"$RenamedUnitPrefix$k") ||
        l.names(s"$BatchKeyFile=$k")) ||
        l.live.exists { g =>
          // a recorded generation's name ends in its key's hash, so only
          // a candidate's `_batch_key` is read
          (g.record.isEmpty || keys.exists(k => g.data.endsWith(sha6(k)))) && {
            val f = new Path(new Path(root, g.data), BatchKeyFile)
            fs.exists(f) && keys.contains(readText(fs, f))
          }
        } || markerApplied(src)
    }

    /** Fold the batch at `src` in once, however often the caller reruns:
      * unless it is already folded, `merge` it into the current state
      * (None = an empty store) and publish the result as the next
      * generation. Returns the current state read as `schema` (which
      * `merge` must also produce); None when the store is empty. A store
      * without generations holds parent-format data — per-batch rows, or
      * a flat `state` dir — that `base` turns into a state. A lost commit
      * race means the fold read stale state; retrying would silently drop
      * the other writer's batch, so it surfaces. */
    def fold(src: String, schema: StructType, base: DataFrame => DataFrame)(
        merge: Option[DataFrame] => DataFrame): Option[DataFrame] = {
      val l = new Listing
      if (folded(src, l)) read(l, schema, base)
      else {
        val key = batchKeyFor(src)
        val n = l.live.map(_.n).maxOption.getOrElse(0) + 1
        // the data dir is unique per (n, batch): a crashed attempt left the
        // SAME name uncommitted, so the rerun overwrites it in place
        val data = unit(new Path(root, f"${StatePrefix}p-$n%06d-${sha6(key)}")) { d =>
          merge(read(l, schema, base)).write.mode("overwrite").parquet(d)
          writeText(fs, new Path(d, BatchKeyFile), key)
        }
        commit(f"$n%06d", data.getName)(fs.delete(data, true))
        Some(load(schema, data.toString))
      }
    }

    /** Retire all but the newest `keep` (at least 1) generations; older
      * ones only exist so a crash mid-publish keeps a complete predecessor.
      * Each retired batch key is FIRST re-recorded as an `_applied` marker,
      * so a replay still skips: a crash between marker and delete is
      * merely redundant, and the current generation is never touched. */
    def prune(keep: Int): Unit =
      (new Listing).gens.sortBy(_.n).dropRight(math.max(1, keep)).foreach { g =>
        val data = new Path(root, g.data)
        val bk = new Path(data, BatchKeyFile)
        if (fs.exists(bk)) {
          val marker = new Path(new Path(root, Applied), readText(fs, bk))
          if (!fs.exists(marker)) writeText(fs, marker, "")
        }
        g.record.foreach(fs.delete(_, false))
        fs.delete(data, true)
      }
  }
}
