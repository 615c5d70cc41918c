package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every environment variable and system property the engine reads is
  * on an explicit allowlist. A new switch — an A/B escape hatch threaded
  * through a hot path, say — fails here instead of landing silently;
  * adding one means adding it below, in review. */
class KnobRatchetSpec extends AnyFunSuite {

  private val Allowed = Set(
    // Entry-point settings (Bench, Verify, Probe, the soak mains).
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_BENCH_ONLY",
    "SPARK_GRAFT_BENCH_RUNS", "SPARK_GRAFT_BENCH_OUT", "GRAFT_ONLY",
    "SPARK_GRAFT_SOAK_X", "SPARK_GRAFT_SOAK_ONLY", "SPARK_GRAFT_SOAK_DIR",
    // Scratch paths.
    "SPARK_GRAFT_SCRATCH", "graft.scratch", "GRAFT_SCRATCH",
    // Derived-artifact fingerprint mode.
    "graft.fp.content", "GRAFT_FP_CONTENT",
    // Sync / JDBC write pool sizes.
    "SPARK_GRAFT_SYNC_POOL", "SPARK_GRAFT_JDBC_POOL")

  private val Access = """sys\.(?:env|props)\b|System\.(?:getenv|getProperty)\b""".r
  private val LiteralRead =
    """(?:sys\.(?:env|props)\.(?:get|getOrElse|contains|apply)|System\.(?:getenv|getProperty))\(\s*"([^"]+)"""".r

  private def sources: Seq[Path] = {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sorted
  }

  test("every env/sysprop key read under src/main is allowlisted") {
    val reads = sources.flatMap { f =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      val keys = LiteralRead.findAllMatchIn(text).map(_.group(1)).toSeq
      // A read through a computed key would dodge the list: every
      // access must be a literal-key read.
      val accesses = Access.findAllMatchIn(text).size
      assert(accesses == keys.size,
        s"$f: $accesses env/sysprop accesses but ${keys.size} literal-key reads")
      keys.map(_ -> f.getFileName.toString)
    }
    val unlisted = reads.filterNot(r => Allowed(r._1))
    assert(unlisted.isEmpty, s"unlisted env/sysprop reads: $unlisted")
    val unread = Allowed -- reads.map(_._1)
    assert(unread.isEmpty, s"allowlisted keys no longer read: $unread")
  }
}
