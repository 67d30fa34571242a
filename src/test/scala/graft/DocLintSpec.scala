package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Doc-lint (VERDICT r7): the README/COVERAGE query counts are derived
  * from [[SparkEntry]] itself, so documentation drift fails the build
  * instead of under- or over-claiming to the first reader.
  */
class DocLintSpec extends AnyFunSuite {

  private def read(name: String): String =
    new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(name)),
      "UTF-8")

  private val total = SparkEntry.queries.size
  private val oracled = SparkEntry.oracleNames.count(SparkEntry.queries.contains)

  test("oracle registry is consistent with the query registry") {
    val orphans = SparkEntry.oracleNames.diff(SparkEntry.queries.keySet)
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
    assert(SparkEntry.dynamicOracleNames.subsetOf(SparkEntry.queries.keySet))
    // since r10 every query carries an oracle — the e2e bench units run
    // on the closed-form arithmetic grid and hash-match like the rest
    val unoracled = SparkEntry.queries.keySet.diff(SparkEntry.oracleNames)
    assert(unoracled.isEmpty, s"unexpected unoracled queries: $unoracled")
  }

  test("contract manifest is consistent with the query registry") {
    val contracts = SparkEntry.contracts
    // total coverage: exactly one contract per registered query
    assert(contracts.keySet == SparkEntry.queries.keySet)
    // overrides must name real queries (a rename must not silently
    // revert a quadratic to the linear default)
    val orphanOverrides =
      SparkEntry.contractOverrides.keySet.diff(SparkEntry.queries.keySet)
    assert(orphanOverrides.isEmpty, s"contract overrides without a query: $orphanOverrides")
    // classes are from the closed vocabulary; siblings are real queries
    contracts.foreach { case (name, c) =>
      assert(Contract.classes.contains(c.cls), s"$name: unknown contract class ${c.cls}")
      c.sibling.foreach(sib =>
        assert(SparkEntry.queries.contains(sib), s"$name: sibling $sib is not a query"))
    }
    // the big-SF sweep exclusion set is EXACTLY the by-contract
    // quadratics — nothing else may quietly drop off the law sweep,
    // and every exclusion must carry a sampled sibling that stays on it
    val quadratics = contracts.collect {
      case (n, c) if c.cls == Contract.QuadraticByContract => n
    }.toSet
    assert(SparkEntry.sweepSkip == quadratics,
      s"sweep skip ${SparkEntry.sweepSkip} != quadratic set $quadratics")
    assert(quadratics ==
      Set("q_dedup_embedding", "q_media_dedup", "q_simhash_pairs"),
      "by-contract quadratic set changed — update the SCALE.md adjudication first")
    quadratics.foreach { n =>
      val sib = contracts(n).sibling
      assert(sib.isDefined && contracts(sib.get).sweepBigSf,
        s"$n: excluded from the sweep without an in-sweep sampled sibling")
    }
    // sampled siblings point at their exact kernel and vice versa
    contracts.collect { case (n, c) if c.cls == Contract.SampledSibling => (n, c) }
      .foreach { case (n, c) =>
        assert(c.sibling.isDefined, s"$n: sampled sibling without a parent")
      }
    // every q_stream_* rides the streaming class (floor-bounded walls)
    SparkEntry.queries.keySet.filter(_.startsWith("q_stream_")).foreach { n =>
      assert(contracts(n).cls == Contract.Streaming, s"$n not tagged streaming")
    }
  }

  test("every materialised intermediate in src/main goes through graft.Reuse") {
    val calls = Seq(".persist(", ".localCheckpoint(", ".cache()", "unpersist(")
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(java.nio.file.Paths.get("graft/Reuse.scala")))
      .toSeq
    assert(files.nonEmpty)
    val offenders = for {
      f <- files
      (line, i) <- read(f.toString).split("\n").zipWithIndex
      code = line.trim
      if !(code.startsWith("//") || code.startsWith("*") || code.startsWith("/*"))
      if calls.exists(code.contains)
    } yield s"${root.relativize(f)}:${i + 1}: $code"
    assert(offenders.isEmpty,
      "materialise through Reuse.pin/cut/free, not Spark directly:\n" + offenders.mkString("\n"))
  }

  /** Every env var and `graft.*`/`spark.graft.*` conf key `src/main`
    * reads, each with the reason it stays. An unlisted knob fails the
    * build, and so does a listed one nothing reads any more, so the list
    * only shrinks as knobs are deleted.
    */
  private val knobs: Map[String, String] = Map(
    "SPARK_GRAFT_CPUS" -> "Bench, Verify and PlanDump size their session to the host",
    "SPARK_GRAFT_SF_DIR" -> "Bench and PlanDump read the scale factor being measured",
    "SPARK_GRAFT_GATE" -> "Bench skips its quiet-host gate on a host known to be shared",
    "SPARK_GRAFT_GATE_TRIES" -> "how many times Bench's gate waits for a quiet host",
    "SPARK_GRAFT_GATE_SLEEP_SEC" -> "the wait between Bench's gate tries",
    "SPARK_GRAFT_PASSES" -> "one Bench pass for family A/Bs, two for a recorded board",
    "SPARK_GRAFT_ONLY" -> "Bench runs a named family for A/Bs",
    "SPARK_GRAFT_SKIP" -> "Bench leaves named queries out, recorded in its JSON",
    "SPARK_GRAFT_SWEEP" -> "Bench's big-SF sweep drops the by-contract quadratics",
    "SPARK_GRAFT_BENCH_OUT" -> "where Bench writes its per-query JSON",
    "GRAFT_TMPFS_SCRATCH" -> "scratch I/O on tmpfs (SCALE.md r9); off where /dev/shm is small",
    "GRAFT_SPATIAL_UNITS" -> "the spatial extent of the sf1 constant-density scale study",
    "graft.stateStore" -> "read by nothing; perfbench sets it",
    "graft.runAssignment.maxRuns" -> "the fail-closed cap on the collected run dimension",
    "spark.graft.cc.localFinishMaxEdges" -> "connected components' single-task finish budget",
    "spark.graft.bitmapCountDistinct.enabled" -> "the opt-in bitmap count(distinct) rewrite")

  test("every env var and graft conf key src/main reads is listed with its reason") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val envName = "\"([A-Z][A-Z0-9]*(?:_[A-Z0-9]+)+)\"".r
    // a conf key, not a class or logger name (whose last segment is
    // capitalised)
    val confKey = "\"((?:spark\\.)?graft(?:\\.[A-Za-z0-9_]+)*\\.[a-z][A-Za-z0-9_]*)\"".r
    val found = (for {
      f <- java.nio.file.Files.walk(root).iterator().asScala.toSeq
      if f.toString.endsWith(".scala")
      line <- read(f.toString).split("\n")
      code = line.trim
      if !(code.startsWith("//") || code.startsWith("*") || code.startsWith("/*"))
      name <- envName.findAllMatchIn(code).map(_.group(1)).filter(n =>
        n.contains("GRAFT") || code.contains("sys.env") || code.contains("getenv")) ++
        confKey.findAllMatchIn(code).map(_.group(1))
    } yield name).toSet
    assert(found.nonEmpty)
    val unlisted = found.diff(knobs.keySet)
    assert(unlisted.isEmpty,
      s"src/main reads knobs with no listed reason: ${unlisted.toSeq.sorted.mkString(", ")}")
    val stale = knobs.keySet.diff(found)
    assert(stale.isEmpty, s"listed knobs nothing reads any more: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("README.md carries the current query/oracle counts") {
    val readme = read("README.md")
    val want = s"currently $total queries, $oracled with\n  exact DuckDB oracles"
    assert(readme.contains(want),
      s"README.md counts drifted — update to: '$want' " +
        s"(queries=$total, oracled=$oracled)")
  }

  test("COVERAGE.md carries the current counts and no stale oracle claims") {
    val coverage = read("COVERAGE.md")
    assert(!coverage.contains("deliberately not oracled"),
      "COVERAGE.md still claims an operator is unoracled — D3/D4 have " +
        "been hash-matched since r6; re-check every 'not oracled' row")
    val countClaims = "(\\d+) oracle-backed".r
      .findAllMatchIn(coverage).map(_.group(1).toInt).toSeq
    countClaims.foreach { n =>
      assert(n == oracled,
        s"COVERAGE.md claims $n oracle-backed queries; code has $oracled")
    }
  }
}
