package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The on-disk version layout of a maintained stream's state — one
  * upsert log with a snapshot cadence, the state-store design of
  * Structured Streaming (delta files plus a snapshot every N versions):
  *
  *   POINTER        "version lastAppliedBatchId", written LAST and
  *                  atomically (temp + ATOMIC_MOVE) — the commit
  *   <kind>/v=N/    full snapshot of each state kind at version N
  *   log/v=N/       delta segment of version N (the owner's schema)
  *
  * Version N is a snapshot when no committed snapshot precedes it or
  * the newest one is `compactEvery` versions old, a segment otherwise;
  * cadence 1 snapshots every version and never writes `log/`. Only
  * snapshots at or below the pointer count as committed: a crashed
  * commit can leave an unblessed `v=N+1` that its replay overwrites.
  * Retention keeps what v=N-1 needs (the replay fallback of a crash
  * before the pointer write): its base snapshot and the segments
  * after it. The owner decides what goes into each directory and how
  * recovery replays it. */
private[graft] final class VersionedState(stateDir: String, owner: String,
                                          kinds: Seq[String],
                                          compactEvery: Int) {
  require(compactEvery >= 1, s"$owner: compactEvery=$compactEvery must be >= 1")
  new File(stateDir).mkdirs()

  private val pointerPath = Paths.get(s"$stateDir/POINTER")

  def snapshotDir(kind: String, v: Int): String = s"$stateDir/$kind/v=$v"

  def segmentDir(v: Int): String = s"$stateDir/log/v=$v"

  def readPointer(): Option[(Int, Long)] =
    if (!Files.exists(pointerPath)) None
    else {
      val parts = new String(Files.readAllBytes(pointerPath), UTF_8).trim.split(" ")
      require(parts.length == 2,
        s"$owner: corrupt pointer ${parts.toSeq} at $pointerPath")
      Some((parts(0).toInt, parts(1).toLong))
    }

  def writePointer(v: Int, batchId: Long): Unit = {
    val tmp = Paths.get(s"$stateDir/POINTER.tmp")
    Files.write(tmp, s"$v $batchId".getBytes(UTF_8))
    Files.move(tmp, pointerPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The newest snapshot at or below `v` — where recovery of version
    * `v` starts replaying segments. */
  def baseSnapshot(v: Int): Int = {
    val snaps = versionsUnder(kinds.head).filter(_ <= v)
    require(snaps.nonEmpty, s"$owner: no snapshot at or below v=$v under $stateDir")
    snaps.max
  }

  /** Decides whether version `newV`, committing on top of `newV - 1`,
    * writes a full snapshot (true) or a delta segment (false), and
    * clears what a crashed attempt at `newV` left in the other form. */
  def beginVersion(newV: Int): Boolean = {
    val snapNow = versionsUnder(kinds.head).filter(_ < newV).maxOption
      .forall(newV - _ >= compactEvery)
    if (snapNow) VersionedState.deleteRecursively(segmentDir(newV))
    else kinds.foreach(k => VersionedState.deleteRecursively(snapshotDir(k, newV)))
    snapNow
  }

  /** Retention after the pointer names the snapshot `newV`: v=newV-1
    * reconstructs from the previous snapshot p plus its trailing
    * segments, so snapshots below p and segments up to p go. One
    * listing per directory; only entries that exist are deleted. */
  def retain(newV: Int): Unit = {
    val listed = (kinds :+ "log").map(sub => sub -> versionsUnder(sub)).toMap
    listed(kinds.head).filter(_ < newV).maxOption.foreach { p =>
      kinds.foreach(k => listed(k).filter(_ < p)
        .foreach(s => VersionedState.deleteRecursively(snapshotDir(k, s))))
      listed("log").filter(_ <= p)
        .foreach(s => VersionedState.deleteRecursively(segmentDir(s)))
    }
  }

  private def versionsUnder(sub: String): Seq[Int] =
    Option(new File(s"$stateDir/$sub").listFiles()).getOrElse(Array.empty).toSeq
      .flatMap(f => f.getName.stripPrefix("v=").toIntOption)
}

private[graft] object VersionedState {

  /** Deletes `path` and everything under it; a missing path is a no-op. */
  def deleteRecursively(path: String): Unit = {
    def rec(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rec)
      f.delete(): Unit
    }
    rec(new File(path))
  }
}
