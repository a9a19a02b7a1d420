package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.SparkSession

/** The write-once layout store. Every derived layout (indexes, format
  * mirrors, z-order and bucketed copies, standing views) lives at
  * `<java.io.tmpdir>/<family>_<layoutKey>[/<variant>]`, is built once
  * per source generation into a `<path>.build-<id>` sibling, stamped
  * with the one completeness marker `_done`, and published by one
  * rename. Every file operation resolves its path through
  * `path.getFileSystem(<session Hadoop conf>)`, exactly as Spark
  * resolves the paths it writes the layout data to, so the protocol
  * holds on whatever file system an unqualified path lands on. On an
  * object store without atomic directory rename the publish is not
  * all-or-nothing; the `_done` check still keeps a partial layout from
  * being served. */
object LayoutStore {

  private val Marker = "_done"

  private def root: String = System.getProperty("java.io.tmpdir")

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `p`'s status, or None when nothing is there. */
  private[graft] def status(fs: FileSystem, p: Path): Option[FileStatus] =
    if (fs.exists(p)) Some(fs.getFileStatus(p)) else None

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fsOf(spark, p).exists(p)
  }

  /** The paths directly under `path` (empty when it is absent). */
  def list(spark: SparkSession, path: String): Seq[Path] = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    if (fs.exists(p)) fs.listStatus(p).map(_.getPath).toSeq else Seq.empty
  }

  /** Every file under `path`, at any depth. A `listStatus` walk:
    * `listFiles` builds `LocatedFileStatus`, which loads permissions
    * through java.io and so fails on a local file system mounted under
    * another scheme. */
  def files(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    def walk(d: Path): Seq[FileStatus] = fs.listStatus(d).toSeq.flatMap(s =>
      if (s.isDirectory) walk(s.getPath) else Seq(s))
    walk(p)
  }

  /** Bytes of the files `pattern` matches, a matched directory's at any
    * depth: one `globStatus`, plus a walk per matched directory. */
  def globBytes(spark: SparkSession, pattern: String): Long = {
    val p = new Path(pattern)
    Option(fsOf(spark, p).globStatus(p)).toSeq.flatten.map(s =>
      if (s.isDirectory) files(spark, s.getPath.toString).map(_.getLen).sum
      else s.getLen).sum
  }

  /** Size and mtime of a layout source through its file system; (0, 0)
    * when missing. */
  private[graft] def sourceStat(spark: SparkSession, path: String): (Long, Long) = {
    val p = new Path(path)
    status(fsOf(spark, p), p).fold((0L, 0L))(s => (s.getLen, s.getModificationTime))
  }

  /** Cache key for a layout derived from `<dir>/<tableName>.parquet`:
    * a readable dir tag, the full digest of the raw dir, and the
    * source's RAW size and mtime (a short hash of them could collide
    * across regenerations and serve a stale layout). `params` is a
    * build-parameter/format version token. */
  def layoutKey(spark: SparkSession, dir: String, tableName: String,
      params: String = ""): String = {
    val (len, mtime) = sourceStat(spark, s"$dir/$tableName.parquet")
    val dirTag = dir.replaceAll("[^A-Za-z0-9.-]", "_").stripPrefix("_")
    // the readable tag is LOSSY (`a/b_c` and `a_b/c` sanitize alike),
    // so the full 128-bit digest of the raw path rides along
    val dirHash = MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
    val p = if (params.isEmpty) "" else s"_$params"
    s"${dirTag}_${dirHash}_${len}_$mtime$p"
  }

  /** Build-if-missing for a layout keyed on its source table, at
    * `<root>/<prefix>_<layoutKey>[/<variant>]` (`variant`: one of
    * several sub-layouts under one key). Returns the live path. */
  def cached(spark: SparkSession, prefix: String, d: String, table: String,
      params: String, variant: String = "")(build: String => Unit): String = {
    val base = s"$root/${prefix}_${layoutKey(spark, d, table, params)}"
    ensure(spark, if (variant.isEmpty) base else s"$base/$variant")(build)
  }

  /** Build-if-missing at an explicit path: unless `path` holds a
    * complete layout, `build` writes one into the temp dir it is handed,
    * then `_done` is stamped and the dir published. Returns `path`. */
  def ensure(spark: SparkSession, path: String)(build: String => Unit): String = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    if (!ready(fs, p)) publish(fs, path) { tmp =>
      build(tmp)
      fs.createNewFile(new Path(tmp, Marker)); ()
    }
    path
  }

  /** Completeness check. A dir WITHOUT the marker is a crashed build's
    * remnant: it is removed (loudly) so [[publish]] can rebuild. */
  private def ready(fs: FileSystem, path: Path): Boolean =
    fs.exists(new Path(path, Marker)) || {
      if (fs.exists(path)) {
        System.err.println(s"[graft] layout store: removing marker-less layout dir " +
          s"$path (no $Marker — crashed build remnant)")
        fs.delete(path, true)
      }
      false
    }

  /** Atomic publication: `build` writes into a session-unique temp
    * sibling, RENAMED to `path` in one move, so readers never see a
    * partial layout and concurrent builders race to one winner. On exit
    * `path` exists or the build's exception propagates, the temp dir
    * deleted either way. Hadoop's rename onto an EXISTING directory
    * (HDFS and the local file system alike) moves the source INSIDE it
    * as `<path>/<tmp name>`: that nested losing build is deleted. */
  private def publish(fs: FileSystem, path: String)(build: String => Unit): Unit = {
    val target = new Path(path)
    if (fs.exists(target)) return
    val tmp = new Path(s"$path.build-${UUID.randomUUID().toString.take(8)}")
    try build(tmp.toString)
    catch { case e: Throwable =>
      fs.delete(tmp, true)
      throw e
    }
    fs.mkdirs(target.getParent)
    if (fs.rename(tmp, target)) fs.delete(new Path(target, tmp.getName), true)
    else {
      fs.delete(tmp, true)
      if (!fs.exists(target))
        throw new IllegalStateException(s"layout publish failed for $path")
    }
  }

  /** Remove `path` and everything under it (a no-op when absent). */
  def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    fs.delete(p, true)
    fs.cancelDeleteOnExit(p); ()
  }

  /** Copy the tree `src` to `dst` (which must not exist yet), for a
    * run that MUTATES a published layout: the shared one stays pristine. */
  def copy(spark: SparkSession, src: String, dst: String): Unit = {
    val (s, d) = (new Path(src), new Path(dst))
    val conf = spark.sparkContext.hadoopConfiguration
    if (!FileUtil.copy(s.getFileSystem(conf), s, d.getFileSystem(conf), d, false, conf))
      throw new IllegalStateException(s"layout copy failed: $src -> $dst")
  }

  /** A fresh dir under the root for one run's scratch data. The
    * DataFrames such runs return read it lazily, so it is removed at JVM
    * exit (Hadoop `deleteOnExit`), or earlier by [[delete]]. */
  def scratchDir(spark: SparkSession, prefix: String): String = {
    val path = s"$root/$prefix-${UUID.randomUUID()}"
    val p = new Path(path)
    val fs = fsOf(spark, p)
    fs.mkdirs(p)
    fs.deleteOnExit(p)
    path
  }

  /** The idempotent batch commit of the delta-append indexes. A batch
    * whose `_batch_<id>` marker (or a legacy id's) exists is skipped.
    * Otherwise a crashed partial application (`b<id>-*` files in `dirs`)
    * is swept, `stage` writes `<stage>/<dir>` for each of `dirs` under
    * the hidden dir it is handed, those files are renamed into the live
    * dirs with the `b<id>-` prefix, `beforeMarker` runs, and the marker
    * is written LAST, so every crash point re-runs to the same state.
    * Single writer per index generation. */
  def commitBatch(spark: SparkSession, path: String, batchId: String,
      legacyIds: Seq[String], dirs: Seq[String])(stage: String => Unit,
      beforeMarker: String => Unit = _ => ()): Unit = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    if ((batchId +: legacyIds).exists(id => fs.exists(new Path(root, s"_batch_$id")))) return
    dirs.map(new Path(root, _)).filter(fs.exists).foreach { dir =>
      fs.listStatus(dir).filter(_.getPath.getName.startsWith(s"b$batchId-"))
        .foreach(s => fs.delete(s.getPath, false))
    }
    val stageDir = new Path(root, s".stage-$batchId")
    fs.delete(stageDir, true)
    stage(stageDir.toString)
    dirs.foreach { d =>
      val to = new Path(root, d)
      fs.mkdirs(to)
      fs.listStatus(new Path(stageDir, d))
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
        .foreach { f =>
          if (!fs.rename(f.getPath, new Path(to, s"b$batchId-${f.getPath.getName}")))
            throw new IllegalStateException(
              s"batch $batchId: publish rename failed for ${f.getPath}")
        }
    }
    beforeMarker(stageDir.toString)
    fs.create(new Path(root, s"_batch_$batchId")).close()
    fs.delete(stageDir, true); ()
  }

  /** Garbage-collect SUPERSEDED layouts under `rootDir`. A layout dir
    * name embeds its source generation (`graft_<family>_<dirTag>_
    * <dirMd5>_<size>_<mtime>[_<params>]`), so a source refresh strands
    * the old generation's full copy. Dirs are grouped by everything but
    * (size, mtime) and all but the newest (max mtime, size) per group
    * go, as do `.build-*` orphans of crashed builds — both only once
    * idle > 1 h, since a younger one may be an in-flight build or still
    * scanned by a query planned before the refresh. A layout whose
    * params embed a SECOND source's stamp (prgraph, ivmview) strands on
    * that source's refresh until its primary refreshes too. Scratch
    * dirs left by code older than [[scratchDir]] (`graft_stream_sink`,
    * `graft_st13`, `graft_st18` + digits) go after the same grace. `conf`
    * resolves `rootDir` (default: no session). Returns the deleted
    * paths, spelled under `rootDir`. */
  def vacuum(rootDir: String = root, conf: Configuration = new Configuration()): Seq[String] = {
    val Keyed = "^(graft_[a-z0-9]+_.+_[0-9a-f]{32})_([0-9]+)_([0-9]+)(_.*)?$".r
    val r = new Path(rootDir)
    val fs = r.getFileSystem(conf)
    if (!fs.exists(r)) return Seq.empty
    val dirs = fs.listStatus(r).filter(_.isDirectory).toSeq
    val graceCutoff = System.currentTimeMillis - 3600L * 1000
    val staleBuilds = dirs.filter(s =>
      s.getPath.getName.matches("^graft_.*\\.build-[0-9a-f]{8}$") &&
        s.getModificationTime < graceCutoff)
    // per-run scratch dirs named by code older than [[scratchDir]]
    // (java.io temp-dir names: prefix + digits)
    val legacyScratch = dirs.filter(s =>
      s.getPath.getName.matches("^graft_(stream_sink|st13|st18)[0-9]+$") &&
        s.getModificationTime < graceCutoff)
    val keyed = dirs.flatMap { s =>
      s.getPath.getName match {
        case Keyed(stem, size, mtime, params) =>
          Some((s, stem + Option(params).getOrElse(""), (mtime.toLong, size.toLong)))
        case _ => None
      }
    }
    val superseded = keyed.groupBy(_._2).values.toSeq.flatMap { gens =>
      val keep = gens.maxBy(_._3)
      gens.filterNot(_._1 == keep._1).map(_._1)
        .filter(_.getModificationTime < graceCutoff)
    }
    (staleBuilds ++ legacyScratch ++ superseded).map { s =>
      val path = new Path(r, s.getPath.getName).toString
      System.err.println(s"[graft] layout vacuum: deleting superseded layout $path")
      fs.delete(s.getPath, true)
      path
    }
  }
}

/** `runMain graft.LayoutVacuum [root]` — [[LayoutStore.vacuum]] under
  * `root`, any Hadoop path (default `java.io.tmpdir`). Run after a
  * source refresh. */
object LayoutVacuum {
  def main(args: Array[String]): Unit = {
    val deleted = args.headOption.fold(LayoutStore.vacuum())(LayoutStore.vacuum(_))
    println(s"[vacuum] ${deleted.size} superseded layout dir(s) removed")
  }
}
