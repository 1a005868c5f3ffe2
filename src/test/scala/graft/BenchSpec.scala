package graft

/** The Bench wall-clock-budget contract (round-13 verdict #1:
  * BENCH_r13 was rc 124 with parsed null — the harness must never
  * again be able to exceed the driver's budget without leaving a
  * parseable artifact behind).
  */
class BenchSpec extends SparkSpec {

  test("fitsBudget: a pass (plus fixed extra cost) must project to " +
    "FINISH inside the budget, never merely start") {
    assert(Bench.fitsBudget(elapsedS = 100, passEstS = 300, budgetS = 900))
    assert(!Bench.fitsBudget(elapsedS = 700, passEstS = 300, budgetS = 900))
    // boundary: exactly fitting is allowed
    assert(Bench.fitsBudget(elapsedS = 600, passEstS = 300, budgetS = 900))
    // a retry's sleep counts against the budget too
    assert(!Bench.fitsBudget(elapsedS = 580, passEstS = 300, budgetS = 900,
      extraS = 30))
    assert(Bench.fitsBudget(elapsedS = 500, passEstS = 300, budgetS = 900,
      extraS = 30))
  }

  test("SPARK_GRAFT_CPUS: * resolves to every processor; a non-numeric " +
    "value fails loudly") {
    assert(Bench.resolveCpus(None) == 4)
    assert(Bench.resolveCpus(Some("8")) == 8)
    assert(Bench.resolveCpus(Some("*")) ==
      Runtime.getRuntime.availableProcessors())
    val e = intercept[IllegalArgumentException] {
      Bench.run(Map("SPARK_GRAFT_CPUS" -> "four").get, stopSession = false)
    }
    assert(e.getMessage.contains("SPARK_GRAFT_CPUS"))
  }

  test("a budget-constrained run stops after one pass and still emits " +
    "a valid one-object artifact with the budget flagged") {
    val out = java.nio.file.Files.createTempFile("bench", ".json")
    val env = Map(
      "SPARK_GRAFT_SF_DIR" -> sf,
      "SPARK_GRAFT_BENCH_OUT" -> out.toString,
      "SPARK_GRAFT_BENCH_N" -> "3",
      // tiny budget: pass 1 must still run (one honest pass beats
      // none), passes 2-3 and every load-retry must be skipped
      "SPARK_GRAFT_BENCH_BUDGET_S" -> "0.001",
      // the trivial floor is machine-tuned for sf0.1 idle; don't let a
      // slow test box trigger retry logic (budget should gate it
      // anyway — belt and braces for a deterministic test)
      "SPARK_GRAFT_LOAD_FLOOR" -> "1e9",
      "SPARK_GRAFT_BENCH_ONLY" -> s"${Bench.LoadGuardQuery},t7_group_count")
    val rc = Bench.run(env.get, stopSession = false)
    assert(rc == 0)
    val text = java.nio.file.Files.readString(out).trim
    // ONE json.load-able object, not concatenated lines
    val json = ujsonParse(text)
    assert(json("metric") == "total")
    assert(json("n_passes") == 1.0, "budget must cut the run to pass 1")
    assert(json("budget_hit") == true)
    assert(json("load_retries") == 0.0)
    assert(json("err_count") == 0.0)
    val qs = json("queries").asInstanceOf[Map[String, Any]]
    assert(qs.keySet == Set(Bench.LoadGuardQuery, "t7_group_count"))
    assert(qs.values.forall(_.asInstanceOf[Double] > 0.0))
    java.nio.file.Files.deleteIfExists(out)
  }

  test("an unconstrained run completes all requested passes with " +
    "budget_hit false") {
    val out = java.nio.file.Files.createTempFile("bench", ".json")
    val env = Map(
      "SPARK_GRAFT_SF_DIR" -> sf,
      "SPARK_GRAFT_BENCH_OUT" -> out.toString,
      "SPARK_GRAFT_BENCH_N" -> "2",
      "SPARK_GRAFT_BENCH_BUDGET_S" -> "600",
      "SPARK_GRAFT_LOAD_FLOOR" -> "1e9",
      "SPARK_GRAFT_BENCH_ONLY" -> Bench.LoadGuardQuery)
    val rc = Bench.run(env.get, stopSession = false)
    assert(rc == 0)
    val json = ujsonParse(java.nio.file.Files.readString(out).trim)
    assert(json("n_passes") == 2.0)
    assert(json("budget_hit") == false)
    java.nio.file.Files.deleteIfExists(out)
  }

  /** Minimal JSON parser for the flat-ish artifact shape (objects of
    * strings/numbers/bools plus nested objects/arrays) — the test
    * depends on no JSON library, same constraint as the main tree.
    */
  private def ujsonParse(s: String): Map[String, Any] = {
    val src = s.trim
    var i = 0
    def ws(): Unit = while (i < src.length && src(i).isWhitespace) i += 1
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(
        s"$msg at $i: ...${src.slice(i, i + 30)}")
    def value(): Any = {
      ws()
      src(i) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => str()
        case 't' => i += 4; true
        case 'f' => i += 5; false
        case 'n' => i += 4; null
        case _ =>
          val j = i
          while (i < src.length && "+-0123456789.eE".contains(src(i))) i += 1
          src.slice(j, i).toDouble
      }
    }
    def str(): String = {
      if (src(i) != '"') fail("expected string")
      i += 1
      val sb = new StringBuilder
      while (src(i) != '"') {
        if (src(i) == '\\') { sb.append(src(i + 1)); i += 2 }
        else { sb.append(src(i)); i += 1 }
      }
      i += 1
      sb.toString
    }
    def arr(): Vector[Any] = {
      i += 1; ws()
      val b = Vector.newBuilder[Any]
      if (src(i) == ']') { i += 1; return b.result() }
      var more = true
      while (more) {
        b += value(); ws()
        if (src(i) == ',') { i += 1 } else { more = false }
      }
      if (src(i) != ']') fail("expected ]")
      i += 1
      b.result()
    }
    def obj(): Map[String, Any] = {
      if (src(i) != '{') fail("expected {")
      i += 1; ws()
      val b = Map.newBuilder[String, Any]
      if (src(i) == '}') { i += 1; return b.result() }
      var more = true
      while (more) {
        ws()
        val k = str(); ws()
        if (src(i) != ':') fail("expected :")
        i += 1
        b += k -> value(); ws()
        if (src(i) == ',') { i += 1 } else { more = false }
      }
      if (src(i) != '}') fail("expected }")
      i += 1
      b.result()
    }
    val root = obj()
    ws()
    if (i != src.length) fail("trailing content")
    root
  }
}
