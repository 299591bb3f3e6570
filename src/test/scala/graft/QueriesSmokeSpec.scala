package graft

/** Every declared query runs and returns rows at sf0.001 (the driver's
  * t1-smoke invariant, applied to the whole surface). */
class QueriesSmokeSpec extends SparkSpec {
  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      try assert(fn(spark, sf).count() > 0, s"$name returned 0 rows")
      // the driver-harness rule (Verify/Bench do the same): gates cache
      // query-scoped frames, and a leaked cache entry rewrites LATER
      // suites' plans via automatic cache substitution (a cached t42
      // text leg swallowed PlanShapeSpec's t39 rank windows into an
      // InMemoryTableScan — round-9 full-suite failure)
      finally spark.catalog.clearCache()
    }
  }

  test("every oracleSql key has a queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle without query: $orphans")
  }

  test("receipt adjudication: noise / weather / regressed thresholds (synthetic)") {
    import Bench.{adjudicate, parseHistory}
    // noise: warm probe at/below 1.5x the best-ever floor
    assert(adjudicate(0.31, 0.40, Seq(1.4, 1.5)) == "noise")
    // weather: the literal round-10 q85 receipt — bench 0.69 vs floor
    // 0.31, probe 0.47, same-round benches 0.351/0.438 — which took a
    // manual git-show triage then and self-adjudicates now
    assert(adjudicate(0.31, 0.47, Seq(0.351, 0.438)) == "weather")
    // weather via the band: probe above 2x floor but below a committed
    // historical value
    assert(adjudicate(0.2, 0.9, Seq(0.5, 1.0)) == "weather")
    // regressed: clears the floor, the band, and 2x the hist median
    assert(adjudicate(0.2, 2.0, Seq(0.4, 0.5)) == "regressed")
    // no history: the pre-round-11 rule (floor-only) decides
    assert(adjudicate(0.2, 0.9, Nil) == "regressed")
    assert(adjudicate(0.2, 0.3, Nil) == "noise")
    // failed probe is never exonerated
    assert(adjudicate(0.2, -1.0, Seq(0.4)) == "regressed")
    // parseHistory reads the fold_baseline.py shape (flat arrays)
    val h = parseHistory(
      """{"queries":{"a":1.0},"history":{"a":[0.5, 0.7],"b_x":[1.25]}}""")
    assert(h == Map("a" -> Seq(0.5, 0.7), "b_x" -> Seq(1.25)))
    assert(parseHistory("""{"queries":{"a":1.0}}""") == Map.empty)
    // format-drift guard (round-11 ADVICE, hardened round 13): nested
    // braces inside the history object mean the flat parse would
    // truncate — parseHistory now REFUSES instead of proceeding with a
    // silently truncated map (Bench.main catches, adjudicates with no
    // history, and emits "history_degraded":true in the JSON)
    assert(Bench.historyFormatFlat(
      """{"history":{"a":[0.5],"b":[1.0]}}"""))
    assert(Bench.historyFormatFlat("""{"queries":{"a":1.0}}"""))
    val nested = """{"history":{"a":{"vals":[0.5]},"b":{"vals":[1.0]}}}"""
    assert(!Bench.historyFormatFlat(nested))
    assertThrows[IllegalArgumentException](parseHistory(nested))
    // the committed baseline itself must satisfy the flat assumption
    assert(Bench.historyFormatFlat(java.nio.file.Files.readString(
      java.nio.file.Paths.get("BENCH_BASELINE.json"))))
  }

  test("every Bench amortized marker names a registered query") {
    // round-9 ADVICE: a typo/rename silently dropped from the marker
    // list would misreport a memo replay as compute cost; Bench.main
    // only warns (a crash there would cost the bench artifact) — the
    // structural failure lives here
    val stale = Bench.amortized.filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty, s"stale amortized markers: $stale")
  }

  private lazy val mainSources: Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  /** The 1-based numbers of `p`'s lines outside a comment that match `re`. */
  private def codeLines(p: java.nio.file.Path, re: scala.util.matching.Regex): Seq[Int] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(p).asScala.toSeq.zipWithIndex.collect {
      case (line, i) if {
        val t = line.trim
        !t.startsWith("//") && !t.startsWith("*") && !t.startsWith("/*") &&
          re.findFirstIn(line).isDefined
      } => i + 1
    }
  }

  /** Whether a line of `p` outside a comment matches `re`. */
  private def codeMatches(p: java.nio.file.Path, re: scala.util.matching.Regex): Boolean =
    codeLines(p, re).nonEmpty

  test("Verify's status record: per-query ok/failed and seconds, escaped errors") {
    val json = Verify.statusJson(Seq(
      ("q_ok", 1.25, None),
      ("q_bad", 0.5, Some("java.lang.RuntimeException: \"x\"\n\ty"))))
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(root.get("ok").asInt == 1 && root.get("failed").asInt == 1)
    val qs = root.get("queries")
    assert(qs.get("q_ok").get("status").asText == "ok")
    assert(qs.get("q_ok").get("seconds").asDouble == 1.25 && !qs.get("q_ok").has("error"))
    assert(qs.get("q_bad").get("status").asText == "failed")
    assert(qs.get("q_bad").get("error").asText == "java.lang.RuntimeException: \"x\"\n\ty")
  }

  test("only GraftSession builds a SparkSession in src/main") {
    // every main runs on the one factory config; a pasted builder is how
    // probes drifted to other core counts and dropped the extensions
    // (comment lines are skipped — GraftExtensions documents the call)
    val builder = """SparkSession\s*\.\s*builder""".r
    val offenders = mainSources.filterNot(_.endsWith("graft/GraftSession.scala"))
      .filter(codeMatches(_, builder))
    assert(offenders.isEmpty,
      s"SparkSession.builder outside GraftSession (${offenders.size}): ${offenders.map(_.toString).sorted.mkString(", ")}")
  }

  test("only the contract and dev mains define def main in src/main") {
    // one harness per job: Bench/Verify/EntryProbe (driver contract),
    // Dev (probes and scale runs), Plans, PipelineBench — a new main is
    // how thirty bespoke scale smokes, each with its own timer, grew
    val allowed = Set("Bench", "Verify", "Dev", "Plans", "PipelineBench", "EntryProbe")
    val main = """\bdef\s+main\s*\(""".r
    val offenders = mainSources.filter(codeMatches(_, main))
      .map(_.getFileName.toString.stripSuffix(".scala")).filterNot(allowed)
    assert(offenders.isEmpty,
      s"def main outside the allowed objects (${offenders.size}): ${offenders.sorted.mkString(", ")}")
  }

  test("only GateMemo keeps a SparkSession-keyed map in src/main") {
    // session-lifetime state goes through GateMemo.getOrBuild: one lock
    // rule, one eviction rule that frees blocks — hand-rolled copies of
    // the memo are how twelve maps drifted into three of each
    val created = """new\s+(?:java\.util\.concurrent\.)?ConcurrentHashMap\s*\[""".r
    val offenders = mainSources.filterNot(_.endsWith("graft/operators/GateMemo.scala"))
      .flatMap { p =>
        val text = java.nio.file.Files.readString(p)
        created.findAllMatchIn(text).filter { m =>
          // the key type: the first type argument, up to a top-level , or ]
          var depth = 0
          val key = text.iterator.drop(m.end).takeWhile { c =>
            if (depth == 0 && (c == ',' || c == ']')) false
            else {
              if (c == '(' || c == '[') depth += 1
              if (c == ')' || c == ']') depth -= 1
              true
            }
          }.mkString
          key.contains("SparkSession")
        }.map(m => s"$p:${text.take(m.start).count(_ == '\n') + 1}")
      }
    assert(offenders.isEmpty,
      s"SparkSession-keyed map outside GateMemo (${offenders.size}): ${offenders.sorted.mkString(", ")}")
  }

  test("only Artifacts renames a table or deletes a warehouse location in src/main") {
    // persisted tables go through graft.operators.Artifacts: one swap
    // with one heal rule, one drop that clears the location — hand-rolled
    // copies are how nine swaps drifted into two crash-heal rules
    val offenders = for {
      p <- mainSources.filterNot(_.endsWith("graft/operators/Artifacts.scala"))
      rule <- Seq("RENAME TO", "spark.sql.warehouse.dir")
      line <- codeLines(p, java.util.regex.Pattern.quote(rule).r)
    } yield s"$rule $p:$line"
    assert(offenders.isEmpty,
      s"table renames or warehouse locations outside Artifacts (${offenders.size}): ${offenders.sorted.mkString(", ")}")
  }

  test("only Artifacts names a tmp table in src/main") {
    // a family writing its own `_tmp` twins restates bucket specs and
    // the marker order — seven such tails had to be folded into
    // Artifacts.rewrite; a tmp twin is read through Artifacts.tmpOf
    val offenders = for {
      p <- mainSources.filterNot(_.endsWith("graft/operators/Artifacts.scala"))
      line <- codeLines(p, "_tmp".r)
    } yield s"$p:$line"
    assert(offenders.isEmpty,
      s"tmp table names outside Artifacts (${offenders.size}): ${offenders.sorted.mkString(", ")}")
  }

  test("graft.core starts no thread of its own") {
    // the pipeline's only clock is the source's gate, polled by the
    // streaming query: a side thread is how a carry watchdog, its drain
    // and the lock between them grew beside the gate
    val offenders = for {
      p <- mainSources.filter(_.toString.contains("graft/core/"))
      line <- codeLines(p, """new\s+Thread\b|Executors\.|\bTimer\b""".r)
    } yield s"$p:$line"
    assert(offenders.isEmpty,
      s"threads, executors or timers in graft.core (${offenders.size}): ${offenders.sorted.mkString(", ")}")
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
