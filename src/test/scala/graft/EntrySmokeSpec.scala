package graft

/** The driver's smoke contract: `SparkEntry.entry` returns >0 rows on
  * sf0.001, the registry keeps its pinned run order, and the oracle SQL
  * follows the width-canonicalization lints. Every query carries its oracle
  * by construction (one `QueryDef` per name). */
class EntrySmokeSpec extends SparkSpec {

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("the registry runs every query in the pinned append-only order") {
    // run order is Bench's published `order`: a query may only be appended,
    // never inserted, moved or renamed (query_order.txt grows at its end)
    val pinned = scala.io.Source.fromResource("query_order.txt").getLines()
      .filter(_.nonEmpty).toSeq
    assert(SparkEntry.queries.keys.toSeq == pinned)
  }

  test("oracle SQL canonicalizes embedding through FLOAT before arithmetic") {
    // Tables.load pins `embedding` to array<float> whatever width the file
    // ships (a double-list regen is the r06 trap class), so every oracle
    // must view the column through CAST(... AS FLOAT[]) / CAST(... AS FLOAT)
    // before any numeric use — identity on today's float32 file, and the
    // exact round-to-nearest the engine applies on a float64 regen. A raw
    // direct-to-DOUBLE cast or bare unnest would read the file's doubles
    // and diverge at ~1e-9 (caught live by the /tmp regen simulation:
    // embedding_centroids hash-mismatched before this rule).
    val rawTouch = Seq(
      raw"CAST\(\s*(\w+\.)?embedding\s+AS\s+DOUBLE".r,   // whole-array to double
      raw"CAST\(\s*(\w+\.)?embedding\[[^\]]*\]\s+AS\s+DOUBLE".r, // element to double
      raw"unnest\(\s*(\w+\.)?embedding\s*\)".r)          // bare unnest
    val offenders = SparkEntry.oracleSql.collect {
      case (name, sql) if rawTouch.exists(_.findFirstIn(sql).isDefined) => name
    }
    assert(offenders.isEmpty,
      s"oracles reading `embedding` without FLOAT canonicalization: $offenders")
  }

  test("oracle SQL views file measure columns at the engine's DOUBLE width") {
    // Tables.load pins the double measure family to DOUBLE whatever width
    // the file ships (the float32-measures regen is the r08 trap class:
    // DuckDB keeps FLOAT arithmetic single-precision unless widened), so
    // every oracle occurrence of a measure column must be wrapped in
    // CAST(<col> AS DOUBLE) at first touch. `value` is deliberately NOT
    // linted: the token is reused by computed BOOLEAN aliases (the W4 /
    // assignment columns), which the width rewrite explicitly excludes —
    // that trap is documented in CLAUDE.md instead.
    // An occurrence is canonical when it is (a) CAST(<col> AS DOUBLE) —
    // optionally table-qualified — or (b) an alias DEFINITION (`AS <col>`),
    // whose value the surrounding expression already canonicalized and
    // whose later references are references to the double-typed alias.
    // The E2E f32meas sim remains the ground truth; this lint is the
    // tripwire for the common miss (a bare measure inside an expression).
    val measures = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "o_totalprice", "c_acctbal", "s_acctbal", "p_retailprice")
    val offenders = SparkEntry.oracleSql.toSeq.flatMap { case (name, sql) =>
      measures.flatMap { m =>
        val all = raw"\b$m\b".r.findAllIn(sql).size
        val cast = raw"CAST\(\s*(\w+\.)?$m\s+AS\s+DOUBLE\s*\)".r.findAllIn(sql).size
        val aliasDef = raw"\bAS\s+$m\b".r.findAllIn(sql).size
        if (all != cast + aliasDef)
          Some(s"$name: $m (${cast + aliasDef}/$all occurrences canonicalized)")
        else None
      }
    }
    assert(offenders.isEmpty,
      s"oracles reading measure columns without DOUBLE canonicalization:\n  " +
        offenders.mkString("\n  "))
  }

  test("oracle SQL views events.props through CAST(props AS JSON)") {
    // Tables.normalizeWidths pins `props` to the canonical JSON-text width
    // (a materialized-struct regen — the propstruct sim — reads back via
    // to_json), so every oracle occurrence must go through CAST(props AS
    // JSON): identity on today's varchar-JSON file, struct→JSON otherwise.
    // A bare json_extract_string(props, ...) would fail on a struct regen.
    val offenders = SparkEntry.oracleSql.toSeq.flatMap { case (name, sql) =>
      val all = raw"\bprops\b".r.findAllIn(sql).size
      val cast = raw"CAST\(\s*(\w+\.)?props\s+AS\s+JSON\s*\)".r.findAllIn(sql).size
      if (all != cast) Some(s"$name: ($cast/$all occurrences canonicalized)")
      else None
    }
    assert(offenders.isEmpty,
      s"oracles reading `props` without JSON canonicalization:\n  " +
        offenders.mkString("\n  "))
  }
}
