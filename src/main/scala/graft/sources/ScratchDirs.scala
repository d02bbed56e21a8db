package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** JVM-lifetime scratch directories (ADVICE r10): a query that
  * writes per-PROCESS table versions (q327's merge snapshots) would
  * otherwise leave one dir per pid in tmp forever. Registered paths
  * are deleted by a shutdown hook when the session's JVM exits.
  *
  * NOT for cross-process artifacts: FixtureMemo layouts are meant to
  * be reused by later JVMs, and OracleAux freezes must outlive the
  * Verify JVM for the driver's DuckDB compare — neither may ever be
  * registered here.
  */
object ScratchDirs {

  private val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  @volatile private var hookInstalled = false

  /** Register `dir` for deletion at JVM exit; returns it. Idempotent
    * per path; the hook is installed lazily on first use. */
  def register(dir: String): String = {
    if (!hookInstalled) synchronized {
      if (!hookInstalled) {
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          registered.forEach(p => deleteRecursively(Paths.get(p)))))
        hookInstalled = true
      }
    }
    registered.add(dir)
    dir
  }

  /** `java.io.tmpdir/graft_<name>_<hex(sfDir.hashCode)>_<pid>`,
    * registered: one JVM's scratch dir for a query over `sfDir`. The
    * hash keeps fixtures apart, the pid keeps concurrent JVMs on the
    * same fixture from overwriting each other's files. */
  def perProcess(name: String, sfDir: String): String =
    register(s"${System.getProperty("java.io.tmpdir")}/graft_${name}_" +
      Integer.toHexString(sfDir.hashCode) + "_" + ProcessHandle.current().pid())

  /** The dirs registered so far. */
  def registeredDirs: Set[String] = {
    import scala.jdk.CollectionConverters._
    registered.asScala.toSet
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      try Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => { try Files.delete(f) catch { case _: Throwable => () } })
      catch { case _: Throwable => () }
    }
}
