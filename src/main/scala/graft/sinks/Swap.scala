package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}

/** Crash-safe replacement by rename: the atomic write that makes an
  * idempotent sink exactly-once under checkpoint replay. Three shapes,
  * each with exactly one implementation here:
  *
  *  - a whole directory ([[recoverDir]] / [[installDir]]): compaction,
  *    index rebuilds, z-order manifests;
  *  - a named set of a root's children ([[recoverChildren]] /
  *    [[installChildren]], [[settled]] for readers): the bucketed state
  *    of [[BucketedState]] (the CDC merge and the bucketed rollup folds,
  *    each with its meta);
  *  - one small file ([[writeText]] / [[readText]], [[replaceFile]]):
  *    scan cursors, Delta checkpoints.
  *
  * Crash guarantee: if the process dies at any step, the next call's
  * recovery leaves exactly the state before the swap or the state after
  * it, never a mix. Every rename is checked: Hadoop reports many rename
  * failures by returning false rather than throwing, and a `false` here
  * raises an `IOException` naming both paths before any cleanup delete
  * runs, so the surviving copy is never removed (a small-file replace
  * reads one refused rename as the store declining to overwrite, see
  * [[replaceFile]]). Recovery runs at the
  * start of the next writer call; one writer per live path, and readers
  * that race a swap window should retry. The [[FileSystem]] is a
  * parameter, so every step goes through whatever filesystem the caller
  * hands in.
  */
object Swap {

  /** Rename or fail with both paths in the message. */
  def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"rename failed: $from → $to")

  private def drop(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p)) fs.delete(p, true)

  // ---------------- whole directory ----------------

  /** Directory swap, entry half: run before reading `live`.
    *
    *  - `live` missing, `bak` present: the crash hit between the two
    *    moves. `tmp` was complete before `live` moved aside, so install
    *    it when it exists; otherwise restore `bak`.
    *  - `live` missing, no `bak`: a bootstrap crash, `tmp` may be
    *    half-written — drop it.
    *  - `live` present: any `tmp` is an unswapped stage and any `bak` a
    *    finished swap's leftover — drop both. */
  def recoverDir(fs: FileSystem, live: Path, tmp: Path, bak: Path): Unit = {
    if (!fs.exists(live) && fs.exists(bak))
      rename(fs, if (fs.exists(tmp)) tmp else bak, live)
    drop(fs, tmp)
    drop(fs, bak)
  }

  /** Directory swap, install half: `tmp` holds the complete new tree.
    * Moves `live` (if any) to `bak`, `tmp` to `live`, then drops `bak`. */
  def installDir(fs: FileSystem, live: Path, tmp: Path, bak: Path): Unit = {
    if (fs.exists(live)) rename(fs, live, bak)
    rename(fs, tmp, live)
    drop(fs, bak)
  }

  // ---------------- set of children of a root ----------------

  private val Manifest = "_graft_fresh"
  private val ManifestEnd = "#end"
  private val Sentinel = "_graft_done"

  private def readBytes(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  /** The fresh-name manifest: `batch=<id>`, one name per line, `#end`.
    * One missing its header or terminator is a torn direct write (only
    * possible on stores whose rename copies, and only before any child
    * moved) and reads as absent, so recovery never acts on a truncated
    * name list. */
  private def readManifest(fs: FileSystem, bak: Path)
      : Option[(Long, Seq[String])] = {
    val p = new Path(bak, Manifest)
    if (!fs.exists(p)) None
    else {
      val lines = new String(readBytes(fs, p), "UTF-8").split("\n")
        .map(_.trim).filter(_.nonEmpty).toSeq
      if (lines.isEmpty || lines.last != ManifestEnd ||
          !lines.head.startsWith("batch=")) None
      else scala.util.Try(lines.head.stripPrefix("batch=").toLong)
        .toOption.map(b => (b, lines.slice(1, lines.length - 1)))
    }
  }

  private def isBookkeeping(name: String): Boolean =
    name.startsWith(Manifest) || name == Sentinel

  /** True when the root whose children backup is `bak` holds exactly the
    * state before or after a swap: no `bak` at all, or a `bak` that
    * holds the commit sentinel (every staged child moved in, only the
    * teardown is left). Any other `bak` means the root may hold a mix
    * until [[recoverChildren]] runs. Reads only. */
  def settled(fs: FileSystem, bak: Path): Boolean =
    !fs.exists(bak) || fs.exists(new Path(bak, Sentinel))

  /** Tear `bak` down in an order recovery can always read: backups
    * first, then the manifest, then the sentinel, then the dir. The
    * sentinel outlives everything else, so a crash mid-teardown is
    * still recognised as committed; a manifest never survives over
    * already-deleted backups, where a rollback would delete committed
    * fresh children it can no longer restore. */
  private def teardown(fs: FileSystem, bak: Path): Unit =
    if (fs.exists(bak)) {
      fs.listStatus(bak).foreach { st =>
        if (!isBookkeeping(st.getPath.getName)) fs.delete(st.getPath, true)
      }
      fs.delete(new Path(bak, Manifest), false)
      fs.delete(new Path(bak, Sentinel), false)
      fs.delete(bak, true)
      ()
    }

  /** Children swap, entry half: run before reading `root`. A leftover
    * `bak` means a swap died mid-flight.
    *
    *  - Committed (the sentinel is in `bak`, or `committed` accepts the
    *    manifest's batch id): every staged child already moved in, so
    *    finish the teardown. Rolling back here would pair pre-swap
    *    children with a post-swap commit record.
    *  - Otherwise roll back: delete the manifest's fresh names from
    *    `root` (they had no pre-swap copy, so any root copy is the
    *    swap's), then move every backup back.
    *
    * `committed` lets a caller whose commit record is itself a swapped
    * child (the bucketed state's meta, which records the batch id)
    * recognise a crash after that child moved in but before the sentinel
    * was written. Every crash of [[installChildren]] recovers without it,
    * but a `bak` written before swaps wrote a sentinel, with its backups
    * already torn down, looks like a current one, and only this check
    * keeps its rollback from deleting the committed fresh children. */
  def recoverChildren(fs: FileSystem, root: Path, tmp: Path, bak: Path,
                      committed: Long => Boolean = _ => false): Unit = {
    if (fs.exists(bak)) {
      val manifest = readManifest(fs, bak)
      if (!fs.exists(new Path(bak, Sentinel)) &&
          !manifest.exists { case (b, _) => committed(b) }) {
        manifest.foreach(_._2.foreach(n => drop(fs, new Path(root, n))))
        fs.listStatus(bak).map(_.getPath)
          .filterNot(p => isBookkeeping(p.getName)).foreach { p =>
            val dst = new Path(root, p.getName)
            drop(fs, dst)
            rename(fs, p, dst)
          }
      }
      teardown(fs, bak)
    }
    drop(fs, tmp)
  }

  /** Children swap, install half: replace `root`'s children `names`
    * with `tmp`'s entries of the same names. A name absent from `tmp`
    * is removed; a name absent from `root` is fresh. Steps:
    *
    *  1. the fresh names, headed by `batch=<batch>`, go into a manifest
    *     in `bak` (temp file, then rename) before any child moves;
    *  2. live children move into `bak`, then staged children move in,
    *     both in `names` order — a caller whose `committed` check reads
    *     a child puts it last;
    *  3. the commit sentinel is written into `bak`;
    *  4. `bak` is torn down and `tmp` dropped. */
  def installChildren(fs: FileSystem, root: Path, tmp: Path, bak: Path,
                      names: Seq[String], batch: Long = -1L): Unit = {
    fs.mkdirs(bak)
    val fresh = names.filterNot(n => fs.exists(new Path(root, n)))
    val manifestTmp = new Path(bak, Manifest + ".tmp")
    val out = fs.create(manifestTmp)
    try out.write((s"batch=$batch" +: fresh :+ ManifestEnd)
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    rename(fs, manifestTmp, new Path(bak, Manifest))
    fs.mkdirs(root)
    names.foreach { n =>
      val p = new Path(root, n)
      if (fs.exists(p)) rename(fs, p, new Path(bak, n))
    }
    names.foreach { n =>
      val p = new Path(tmp, n)
      if (fs.exists(p)) rename(fs, p, new Path(root, n))
    }
    fs.create(new Path(bak, Sentinel)).close()
    teardown(fs, bak)
    drop(fs, tmp)
  }

  // ---------------- small file ----------------

  private def tempOf(target: Path): Path =
    new Path(target.getParent, target.getName + ".tmp")

  /** Move the complete file `from` over the file `to`. Where the store
    * renames over an existing file this is one atomic step. Hadoop's
    * rename refuses to (HDFS, the checksummed local filesystem), so
    * there a refused rename is the store declining to replace, and the
    * old `to` is deleted only now that `from` is complete, then `from`
    * moves in: neither value is ever lost, and a reader that finds no
    * `to` can recover from `from`, as [[readText]] does. */
  def replaceFile(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) {
      if (!fs.exists(from) || !fs.exists(to))
        throw new java.io.IOException(s"rename failed: $from → $to")
      fs.delete(to, false)
      rename(fs, from, to)
    }

  /** Replace the small text file `target`: write `text` and a closing
    * newline to `<target>.tmp`, then [[replaceFile]] it into place. */
  def writeText(fs: FileSystem, target: Path, text: String): Unit = {
    val tmp = tempOf(target)
    val out = fs.create(tmp, true)
    try out.write((text + "\n").getBytes("UTF-8")) finally out.close()
    replaceFile(fs, tmp, target)
  }

  /** Read a [[writeText]] file, trimmed. A reader that finds only the
    * temp file (a replace caught between its delete and its rename)
    * recovers from it when its closing newline shows the write
    * finished; a temp cut short by a crash reads as absent. */
  def readText(fs: FileSystem, target: Path): Option[String] = {
    val tmp = tempOf(target)
    if (fs.exists(target))
      Some(new String(readBytes(fs, target), "UTF-8").trim)
    else if (fs.exists(tmp)) {
      val s = new String(readBytes(fs, tmp), "UTF-8")
      if (s.endsWith("\n")) Some(s.trim) else None
    } else None
  }
}
