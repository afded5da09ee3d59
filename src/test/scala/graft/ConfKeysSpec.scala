package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The inventory of `spark.graft.*` configuration keys the engine reads.
  * Scans the main sources for the key string literals (no session) and
  * pins the set, so adding or retiring a knob shows up as a one-line diff
  * here. */
class ConfKeysSpec extends AnyFunSuite {

  private val expected = Set(
    // kill switches: each turns one serving route or read path off
    "spark.graft.agg.metadata.hybrid",
    "spark.graft.agg.metadata.ndv",
    "spark.graft.agg.rewrite",
    "spark.graft.ann.rewrite",
    "spark.graft.changelog.narrowEqSpans",
    "spark.graft.filter.monotoneRewrite",
    "spark.graft.topk.metadata",
    // deployment: multi-driver caching and the $metrics window
    "spark.graft.meta.manifestCache",
    "spark.graft.meta.registryCache",
    "spark.graft.metrics.window",
    // semantics: opt-ins that change what is written or how fresh or exact
    // an answer is
    "spark.graft.agg.rewrite.maxStalenessMs",
    "spark.graft.agg.rewrite.tailUnion",
    "spark.graft.analyze.ndvGroupCols",
    "spark.graft.analyze.ndvRescan",
    "spark.graft.ann.sql.nProbe",
    "spark.graft.bloom.columns",
    "spark.graft.delete.mode",
    "spark.graft.wap.branch",
    // fixture-pinned: the oracle fixtures set these to reach a route
    "spark.graft.agg.refresh.rescanFraction",
    "spark.graft.manifest.inlineThreshold",
    // test seam: the sharded specs need several shards from a few files
    "spark.graft.manifest.filesPerShard")

  private val keyLiteral = "\"(spark\\.graft\\.[A-Za-z0-9_.]*[A-Za-z0-9_])".r

  test("the engine reads exactly the pinned spark.graft.* keys") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val found = files.flatMap { p: Path =>
      keyLiteral.findAllMatchIn(Files.readString(p)).map(_.group(1))
    }.toSet
    assert(expected.size == 21)
    assert((found -- expected).isEmpty,
      s"keys read but not pinned: ${(found -- expected).toSeq.sorted}")
    assert((expected -- found).isEmpty,
      s"keys pinned but no longer read: ${(expected -- found).toSeq.sorted}")
  }
}
