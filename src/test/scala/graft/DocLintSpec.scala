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
