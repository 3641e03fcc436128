package perfbench

import java.io.File

/** Reads a file-source stream's checkpoint from outside: which
  * micro-batch took each input file (the source log, including its
  * compacted segments) and when each batch committed (the commit log
  * entry's modification time). */
object StreamLog {
  private val Entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored

  /** input file name → batch id. */
  def fileBatches(ckpt: File): Map[String, Long] = {
    val dir = new File(ckpt, "sources/0")
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.endsWith(".tmp"))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().collect { case Entry(p, b) =>
          new File(new java.net.URI(p).getPath).getName -> b.toLong
        }.toList
        finally src.close()
      }.toMap
  }

  /** committed batch id → commit wall time (epoch ms). */
  def commits(ckpt: File): Map[Long, Double] =
    Option(new File(ckpt, "commits").listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.forall(_.isDigit))
      .map(f => f.getName.toLong -> Dirs.mtimeMs(f)).toMap
}
