package graft

import java.util.regex.Pattern

object Scratch {

  /** `/tmp/graft_<family>_<pid><tail><ext>`, a path private to this JVM
    * (concurrent JVMs must not clobber each other). Only before the path
    * exists, every `graft_<family>_<pid>[_…]<ext>` entry of /tmp whose JVM
    * is dead is deleted first, so killed runs leave no debris behind while
    * repeat calls (timed bench loops) pay no /tmp listing. The optional
    * `_…` also matches names written without a tail. */
  def processPath(family: String, tail: String = "", ext: String = ""): String = {
    val path = s"/tmp/graft_${family}_${ProcessHandle.current().pid()}$tail$ext"
    if (!new java.io.File(path).exists()) {
      val prefix = s"graft_${family}_"
      val debris = Pattern.quote(prefix) + "\\d+(_.*)?" + Pattern.quote(ext)
      Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
        .filter(_.getName.matches(debris))
        .foreach { f =>
          val pid = f.getName.stripPrefix(prefix).takeWhile(_.isDigit).toLong
          if (!ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false))
            graft.tools.CorpusMaintenance.deleteRecursively(f.getPath)
        }
    }
    path
  }
}
