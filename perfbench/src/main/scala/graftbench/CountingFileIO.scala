package graftbench

import graft.tableformat.{ClaimAllResult, FileIO, LocalFileIO, RenameRecovery}

/** Counting and timing decorator over the local `FileIO` backend,
  * installed through the public `FileIO.install` seam on traced runs
  * only. Every call becomes a `tableformat` span attached to the span
  * active on the client thread, and bumps per-operation counters keyed
  * by what the path is: version hint, version document, manifest list,
  * manifest, data file or delete file.
  *
  * Only the local backend is wrapped. `FileIO.claimedSlotsUnder` is
  * package-private to graft's table format, so a decorator outside that
  * package cannot forward it; for the local backend it is empty anyway,
  * while a catalog backend would lose its unpublished-slot view.
  */
final class CountingFileIO extends FileIO {
  private val inner = LocalFileIO

  private def kind(path: String): String =
    if (path.endsWith("version-hint.text")) "hint"
    else if (path.endsWith(".metadata.json")) "doc"
    else if (path.endsWith(".mlist.json")) "manifest_list"
    else if (path.endsWith(".manifest.json")) "manifest"
    else if (path.contains("-deletes")) "delete"
    else if (path.contains("/data/")) "data"
    else "other"

  private def timed[T](call: String, path: String)(f: => T): T = {
    val start = System.nanoTime()
    try f
    finally {
      val end = System.nanoTime()
      Trace.record(Span(Trace.newId(), Trace.activeSpan, Trace.op,
        s"tableformat.$call.${kind(path)}", "tableformat", start, end))
      Trace.count("tableformat.io_ns", (end - start).toDouble)
    }
  }

  private def countRead(path: String, bytes: Long): Unit = {
    kind(path) match {
      case "hint"          => Trace.count("tableformat.hint_reads")
      case "doc"           => Trace.count("tableformat.doc_reads")
      case "manifest_list" => Trace.count("tableformat.manifest_list_reads")
      case "manifest"      => Trace.count("tableformat.manifest_reads")
      case _               => Trace.count("tableformat.other_reads")
    }
    Trace.count("tableformat.read_bytes", bytes.toDouble)
  }

  private def countWrite(content: String): Unit =
    Trace.count("tableformat.write_bytes", content.length.toDouble)

  override def readString(path: String): String = timed("read", path) {
    val s = inner.readString(path)
    countRead(path, s.length)
    s
  }

  override def readLines(path: String): Vector[String] = timed("read", path) {
    val ls = inner.readLines(path)
    countRead(path, ls.iterator.map(_.length + 1L).sum)
    ls
  }

  override def writeString(path: String, content: String): Unit =
    timed("write", path) { countWrite(content); inner.writeString(path, content) }

  override def exists(path: String): Boolean = timed("exists", path) {
    Trace.count("tableformat.exists_probes")
    inner.exists(path)
  }

  override def size(path: String): Long = timed("size", path)(inner.size(path))
  override def modifiedMs(path: String): Long =
    timed("modified", path)(inner.modifiedMs(path))
  override def delete(path: String): Boolean =
    timed("delete", path)(inner.delete(path))

  override def listDir(dir: String): Vector[String] = timed("list", dir) {
    Trace.count("tableformat.lists")
    inner.listDir(dir)
  }

  override def listRecursive(dir: String): Vector[String] = timed("list", dir) {
    Trace.count("tableformat.lists")
    inner.listRecursive(dir)
  }

  override def deleteTree(dir: String): Unit =
    timed("delete", dir)(inner.deleteTree(dir))

  override def claim(path: String, content: String): Boolean =
    timed("claim", path) {
      countWrite(content)
      Trace.count("tableformat.claims")
      val won = inner.claim(path, content)
      if (!won) Trace.count("tableformat.claims_lost")
      won
    }

  override def replaceAtomic(path: String, content: String): Unit =
    timed("write", path) { countWrite(content); inner.replaceAtomic(path, content) }

  override def claimAll(entries: Seq[(String, String)]): ClaimAllResult =
    timed("claim", entries.headOption.map(_._1).getOrElse("")) {
      entries.foreach { case (_, c) => countWrite(c) }
      Trace.count("tableformat.claims", entries.size.toDouble)
      inner.claimAll(entries)
    }

  override def copy(src: String, dst: String): Unit =
    timed("copy", dst)(inner.copy(src, dst))
  override def rename(fromDir: String, toDir: String): Unit =
    timed("rename", toDir)(inner.rename(fromDir, toDir))
  override def recoverRename(dir: String, olderThanMs: Long)
      : Option[RenameRecovery] =
    timed("recover", dir)(inner.recoverRename(dir, olderThanMs))
}

object CountingFileIO {
  val counterNames: Seq[String] = Seq("hint_reads", "doc_reads",
    "manifest_list_reads", "manifest_reads", "exists_probes", "lists",
    "read_bytes", "write_bytes", "claims", "claims_lost")
  /** Counters reported per commit rather than per measured operation. */
  val commitSide: Set[String] = Set("write_bytes", "claims", "claims_lost")
}
