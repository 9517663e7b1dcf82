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
  * A fold store knows one layout: committed generations plus `_applied`
  * markers. A store an older layout wrote (root files, keyed or
  * rename-era units, `_batch_key=<key>` partitions, rename-era `state-<n>`
  * generations, hidden temp leftovers) is upgraded ONCE by its next fold
  * (see [[Store.fold]]); until then reading or pruning it fails loudly.
  */
object Commit {

  private val Commits = "_commits"
  private val Applied = "_applied"
  private val RenamedUnitPrefix = "batch-" // rename-era units, read only
  private val UnitPrefix = "batch-p-"
  private val StatePrefix = "state-"
  private val GenPrefix = "state-p-"
  private val BatchKeyFile = "_batch_key"

  /** Injective batch key for idempotent maintenance folds: sanitized
    * source path + a hash of the RAW path (sanitizing alone can collide —
    * `/a/b` vs `/a_b` — which would silently replace or skip a batch). */
  def batchKeyFor(src: String): String = s"${legacyBatchKeyFor(src)}-${sha6(src)}"

  /** The pre-r8 key format (sanitized path, no hash suffix) — still
    * ACCEPTED in `_applied` markers so stores written before the
    * injective-key change don't re-fold their batches; never written. */
  private def legacyBatchKeyFor(src: String): String =
    src.replaceAll("[^A-Za-z0-9._-]", "_")

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
      * flat `state` dir), committed and rename-era units — never a hidden
      * temp dir, an uncommitted unit or a generation dir. */
    private def readable(d: Path, commits: Set[String]): Seq[String] =
      list(d).filter { st =>
        val n = st.getPath.getName
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

    /** Record batch `key` as applied by an `_applied/<key>` marker. */
    private def markApplied(key: String): Unit = {
      val marker = new Path(new Path(root, Applied), key)
      if (!fs.exists(marker)) writeText(fs, marker, "")
    }

    /** True iff an `_applied` marker records the batch at `src`, under
      * either key format, so a store never re-applies a batch whose
      * record outlived its data (a pruned generation, a pre-r9 append). */
    def markerApplied(src: String): Boolean =
      Seq(batchKeyFor(src), legacyBatchKeyFor(src))
        .exists(k => fs.exists(new Path(new Path(root, Applied), k)))

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
    // state plus its `_batch_key` file as `state-p-<n>-<keyhash>`, and
    // `_commits/<n>` holds that name.

    private case class Gen(n: Int, data: String, record: Path)

    /** One look at the store: its root names, its `_commits` names and
      * every generation, each record read once. A record whose data dir
      * is gone is not a `live` generation. */
    private final class Listing {
      val names: Set[String] = Store.this.names(root)
      private val records = list(new Path(root, Commits))
      val gens: Seq[Gen] = records.flatMap(s => s.getPath.getName.toIntOption.map(n =>
        Gen(n, readText(fs, s.getPath).trim, s.getPath)))
      val live: Seq[Gen] = gens.filter(g => names.contains(g.data))
      // the root names and `_commits` records no generation store writes
      val oldNames: Seq[String] = names.toSeq.filterNot(n =>
        n == Commits || n == Applied || n.startsWith(GenPrefix))
      val oldRecords: Seq[String] =
        records.map(_.getPath.getName).filter(_.toIntOption.isEmpty)
      def upgraded: Boolean = oldNames.isEmpty && oldRecords.isEmpty
      def orFail: Listing = if (upgraded) this else throw new IllegalStateException(
        s"fold store $root holds an older layout (${(oldNames ++ oldRecords).sorted
          .take(5).mkString(", ")}); run its profile or ivm maintenance task once to upgrade it")
    }

    private def load(schema: StructType, paths: String*): DataFrame =
      spark.read.schema(schema).parquet(paths: _*)

    /** The newest generation `l` shows, read as `schema` so no inference
      * job runs; None when the store is empty. */
    private def read(l: Listing, schema: StructType): Option[DataFrame] =
      l.live.maxByOption(_.n).map(g => load(schema, new Path(root, g.data).toString))

    /** The current state read as `schema`; None when the store is empty. */
    def state(schema: StructType): Option[DataFrame] = read((new Listing).orFail, schema)

    /** True iff the batch at `src` is folded in: a live generation's
      * `_batch_key`, or an `_applied` marker. */
    private def folded(src: String, l: Listing): Boolean = {
      val key = batchKeyFor(src)
      l.live.exists { g =>
        // a generation's name ends in its key's hash, so only a
        // candidate's `_batch_key` is read
        g.data.endsWith(sha6(key)) && {
          val f = new Path(new Path(root, g.data), BatchKeyFile)
          fs.exists(f) && readText(fs, f) == key
        }
      } || markerApplied(src)
    }

    /** Publish generation `n` of batch `key` under a name unique per (n,
      * batch): a crashed attempt's uncommitted data is overwritten in place. */
    private def publish(n: Int, key: String)(write: String => Unit): Path = {
      val data = unit(new Path(root, f"$GenPrefix$n%06d-${sha6(key)}"))(write)
      commit(f"$n%06d", data.getName)(fs.delete(data, true))
      data
    }

    /** Bring a store an older layout wrote to the one layout in three
      * steps, each safe to redo after a crash: (1) an `_applied` marker for
      * every batch key its old names record, in the format found; (2)
      * unless a live generation already holds it, the state as one
      * committed generation — `base` over the newest `state-<n>`, else
      * over the readable data; (3) delete the old names. */
    private def upgrade(l: Listing, schema: StructType,
                        base: DataFrame => DataFrame): Listing = {
      val partitions = l.oldNames.filter(_.startsWith(s"$BatchKeyFile="))
      val renamedGens = l.oldNames.flatMap(n =>
        n.stripPrefix(StatePrefix).toIntOption.map(_ -> n))
      (l.oldRecords ++ partitions.map(_.stripPrefix(s"$BatchKeyFile=")) ++
        l.oldNames.filter(n => n.startsWith(RenamedUnitPrefix) &&
          !n.startsWith(UnitPrefix)).map(_.stripPrefix(RenamedUnitPrefix)) ++
        renamedGens.map(g => new Path(new Path(root, g._2), BatchKeyFile))
          .filter(fs.exists).map(readText(fs, _))).foreach(markApplied)
      val liveN = l.live.map(_.n).maxOption.getOrElse(0)
      val state = renamedGens.maxByOption(_._1).filter(_._1 > liveN) match {
        case Some((_, n)) => Seq(new Path(root, n).toString)
        case None if l.live.isEmpty => readable(root, l.oldRecords.toSet) ++
          partitions.map(n => new Path(root, n).toString)
        case None => Nil
      }
      if (state.nonEmpty) publish((liveN +: renamedGens.map(_._1)).max + 1, "")(
        base(load(schema, state: _*)).write.mode("overwrite").parquet(_))
      l.oldNames.foreach(n => fs.delete(new Path(root, n), true))
      l.oldRecords.foreach(n => fs.delete(new Path(new Path(root, Commits), n), false))
      new Listing
    }

    /** Fold the batch at `src` in once, however often the caller reruns:
      * unless it is already folded, `merge` it into the current state
      * (None = an empty store) and publish the result as the next
      * generation. Returns the current state read as `schema` (which
      * `merge` and `base` must also produce); None when the store is empty.
      * A store an older layout wrote is upgraded first, `base` turning its
      * per-batch rows into a state. A lost commit race means the fold read
      * stale state; retrying would silently drop the other writer's batch,
      * so it surfaces. */
    def fold(src: String, schema: StructType, base: DataFrame => DataFrame)(
        merge: Option[DataFrame] => DataFrame): Option[DataFrame] = {
      val first = new Listing
      val l = if (first.upgraded) first else upgrade(first, schema, base)
      if (folded(src, l)) read(l, schema)
      else {
        val key = batchKeyFor(src)
        val data = publish(l.live.map(_.n).maxOption.getOrElse(0) + 1, key) { d =>
          merge(read(l, schema)).write.mode("overwrite").parquet(d)
          writeText(fs, new Path(d, BatchKeyFile), key)
        }
        Some(load(schema, data.toString))
      }
    }

    /** Retire all but the newest `keep` (at least 1) generations; older
      * ones only exist so a crash mid-publish keeps a complete predecessor.
      * Each retired batch key is FIRST re-recorded as an `_applied` marker,
      * so a replay still skips: a crash between marker and delete is
      * merely redundant, and the current generation is never touched. */
    def prune(keep: Int): Unit =
      (new Listing).orFail.gens.sortBy(_.n).dropRight(math.max(1, keep)).foreach { g =>
        val data = new Path(root, g.data)
        val bk = new Path(data, BatchKeyFile)
        if (fs.exists(bk)) markApplied(readText(fs, bk))
        fs.delete(g.record, false)
        fs.delete(data, true)
      }
  }
}
