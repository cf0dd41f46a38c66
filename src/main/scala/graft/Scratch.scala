package graft

import java.nio.file.{Files, Path}

/** The per-JVM scratch root of the query set's run-scoped state (the
  * index directories the `q_*` index queries and Bench's breakdown build
  * and rebuild). A fixed directory under `java.io.tmpdir` is shared by
  * every JVM on the host: with `graft.Verify` and `graft.Bench` running
  * side by side, one rebuilt `graft_q_ivfpq` while the other read it and
  * failed with FILE_NOT_EXIST. Each JVM now gets its own root, created on
  * first use and deleted when the JVM exits. */
object Scratch {

  private lazy val root: Path = {
    val p = Files.createTempDirectory("graft-scratch-")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
    p
  }

  /** Absolute path of `name` under this JVM's scratch root. */
  def dir(name: String): String = root.resolve(name).toString
}
