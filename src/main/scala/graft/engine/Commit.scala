package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one crash-safe directory swap under every rename-aside commit of
  * the engine: the guarantee the reference gets from Delta's log (a
  * failed MERGE leaves the old table, `3(1)_Gold_dim_model.py:163-169`),
  * re-derived from filesystem renames. Metadata only: no data byte is
  * copied and no Spark job runs.
  *
  * A [[Swap]] publishes a complete `staged` directory (or file) at
  * `live`, after moving the live one to `aside`. [[recover]], which
  * every writer runs before it reads, finishes or undoes a swap a crash
  * interrupted, so a reader sees exactly the old state or the new one:
  *  - one swap commits with its aside move: recovery rolls it forward
  *    while its staged side survives, and moves the aside home when
  *    neither staged nor live path is left;
  *  - several swaps commit with a journal naming them all, written
  *    before the first move: a complete journal rolls every swap
  *    forward, a missing or torn one means nothing has moved yet.
  * Rolling back never deletes a live path; the caller drops its own
  * staging root afterwards.
  */
object Commit {

  /** Publish `staged` at `live`, moving the live path to `aside` (whose
    * parent must exist) first. In a journaled [[swap]], `staged = None`
    * retires `live`; in [[recover]]'s pending list, None names a staged
    * side private to the crashed writer, which is never resumed.
    */
  final case class Swap(staged: Option[Path], live: Path, aside: Path)

  /** Publish `swaps`: together at the `journal` write, or, without a
    * journal, as one swap.
    */
  def swap(fs: FileSystem, swaps: Seq[Swap], journal: Option[Path]): Unit = {
    journal.foreach { j =>
      val out = fs.create(j, true)
      try {
        swaps.foreach(s => out.writeBytes(
          s"${s.staged.fold("-")(_.toString)}\t${s.live}\t${s.aside}\n"))
        out.writeBytes(End + "\n")
      } finally out.close()
    }
    publish(fs, swaps, journal)
  }

  /** Finish a journaled swap, or, without a complete journal, the
    * `pending` swaps: forward once any of their asides exists, else back.
    */
  def recover(fs: FileSystem, pending: Seq[Swap], journal: Option[Path]): Unit =
    journal.flatMap(read(fs, _)) match {
      case Some(swaps) => publish(fs, swaps, journal)
      case None =>
        val committed = pending.exists(s => fs.exists(s.aside))
        pending.foreach { s =>
          if (committed && s.staged.exists(fs.exists)) forward(fs, s)
          else if (fs.exists(s.aside) && !fs.exists(s.live)) move(fs, s.aside, s.live)
          drop(fs, s.aside)
          s.staged.foreach(drop(fs, _))
        }
        journal.foreach(drop(fs, _))
    }

  private val End = "end"

  private def publish(fs: FileSystem, swaps: Seq[Swap], journal: Option[Path]): Unit = {
    swaps.foreach(forward(fs, _))
    swaps.foreach(s => drop(fs, s.aside))
    journal.foreach(fs.delete(_, false))
  }

  /** One swap's moves, skipping those already made. */
  private def forward(fs: FileSystem, s: Swap): Unit =
    if (s.staged.forall(fs.exists)) {
      if (fs.exists(s.live)) move(fs, s.live, s.aside)
      s.staged.foreach(move(fs, _, s.live))
    }

  // Hadoop's rename also returns false on a real IO error
  private def move(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"commit: could not move $from to $to")

  private def drop(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p)) fs.delete(p, true)

  /** The journal's swaps; None when it is missing or torn. */
  private def read(fs: FileSystem, journal: Path): Option[Seq[Swap]] =
    if (!fs.exists(journal)) None
    else {
      val in = fs.open(journal)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
        catch { case _: org.apache.hadoop.fs.ChecksumException => Vector.empty }
        finally in.close()
      if (!lines.lastOption.contains(End)) None
      else Some(lines.init.map { line =>
        val Array(staged, live, aside) = line.split('\t')
        Swap(Option(staged).filter(_ != "-").map(new Path(_)), new Path(live),
          new Path(aside))
      })
    }
}
