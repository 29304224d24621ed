package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}

/** Crash-safe directory swaps for the training-shard export
  * ([[Export.writeTrainingShardsIncremental]]) — the one store here that
  * outside readers LIST (a shard dir is whatever files it holds), so it
  * cannot publish through a version log the way the index artifacts do
  * ([[IdStore]]). The naive shape — `delete(live)` then
  * `rename(next, live)` — has a window where the only copy of a
  * partition's rows is already deleted and not yet replaced.
  *
  * The safe shape never deletes a live copy before its replacement is
  * in place: the live dir is RENAMED ASIDE (`<live>.old`), the rewrite
  * renamed in, and the aside copies deleted only after every swap in
  * the pass completed. Each window leaves recoverable state:
  *
  *   - crash after `live → aside`, before `next → live`: the partition
  *     is missing from live but intact under aside (and the rewrite
  *     under tmp) — [[recover]] renames it back, and re-running the
  *     pass redoes the swap.
  *   - crash after `next → live`, before the aside cleanup: live holds
  *     the new copy, aside the old — [[recover]] keeps live (never
  *     overwrites an existing target) and deletes the aside.
  *
  * [[recover]] runs at the START of every pass, so a re-run converges
  * from any crash state. Single-writer: these are per-directory
  * renames, not a transaction log.
  */
private[graft] object SafeSwap {

  private def asideOf(live: Path): Path =
    new Path(live.getParent, live.getName + ".old")

  /** Restore any partition (or the whole dir) that a crashed swap left
    * under `<live>.old`: a child missing from live is renamed back; a
    * child present in both means the swap completed for it — live wins
    * and the stale aside copy is dropped. Idempotent and cheap (two
    * fs.exists when no crash happened). */
  def recover(fs: FileSystem, live: Path): Unit = {
    val aside = asideOf(live)
    if (!fs.exists(aside)) return
    if (!fs.exists(live)) { fs.rename(aside, live); return }
    fs.listStatus(aside).foreach { s =>
      val dst = new Path(live, s.getPath.getName)
      if (!fs.exists(dst)) fs.rename(s.getPath, dst)
    }
    fs.delete(aside, true)
  }

  /** Swap the named child partitions of `live` for their rewrites under
    * `tmp`. A partition with no rewrite (every row was dropped) is
    * moved aside and not replaced — i.e. deleted, but recoverably so
    * until the pass commits. Asides and tmp are cleared only after all
    * swaps completed. */
  def swapPartitions(fs: FileSystem, live: Path, tmp: Path,
      parts: Seq[String]): Unit = {
    val aside = asideOf(live)
    fs.mkdirs(aside)
    parts.foreach { p =>
      val l = new Path(live, p)
      if (fs.exists(l)) fs.rename(l, new Path(aside, p))
      val n = new Path(tmp, p)
      if (fs.exists(n)) fs.rename(n, l)
    }
    fs.delete(aside, true)
    fs.delete(tmp, true)
  }

  /** Replace `live` wholesale with `next` (Export's `_manifest`): live
    * moves aside, next moves in, aside is dropped last. */
  def swapDir(fs: FileSystem, live: Path, next: Path): Unit = {
    val aside = asideOf(live)
    // a stale aside here means a prior crash AFTER its swap committed
    // (recover() keeps live and would have dropped it) — clear it so
    // the rename-aside below has a free target
    if (fs.exists(aside)) fs.delete(aside, true)
    if (fs.exists(live)) fs.rename(live, aside)
    fs.rename(next, live)
    fs.delete(aside, true)
  }
}
