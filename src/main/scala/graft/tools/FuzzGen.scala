package graft.tools

import scala.util.Random

/** Differential fuzz harness, Spark half (round-12 verdict item 8).
  *
  * The SQL text entry's rewrite surface (QUALIFY/COLUMNS/list/JSON/
  * regexp/datetime/string_agg/…) is large enough that hand-written
  * gated keys under-sample it — silent cross-engine divergences of the
  * x94 class (DuckDB first-match regexp_replace vs Spark global) hide
  * in the combinations no key spells. This tool generates SEEDED
  * random statements in the shared dialect from pools of PINNED
  * features only, runs each through `LakeSql.sql`, and dumps results +
  * statements for `tools/fuzz_diff.py` to replay in DuckDB and diff.
  *
  * Determinism rules baked into the generator (hash-comparable on any
  * engine): every statement ORDER BYs its key or group column; sums
  * only over BIGINT-cast integer expressions (no float accumulation
  * order); string aggregation always carries in-aggregate ORDER BY;
  * regex pool stays in the RE2∩Java shared dialect with no anchors or
  * backreferences (the first-match rewrite's own constraint set).
  *
  * A statement the entry REFUSES (IllegalArgumentException) is
  * recorded as refused — a loud refusal is contract behavior, not a
  * divergence. A Spark analysis error likewise records as an error;
  * only statements BOTH engines run get value-diffed.
  *
  * Usage: runMain graft.tools.FuzzGen <sfDir> <outDir> [count] [seed]
  */
object FuzzGen {
  private[tools] final case class Col(name: String, kind: String) // s/i/d

  private[tools] val nationCols = Seq(Col("n_nationkey", "i"),
    Col("n_regionkey", "i"), Col("n_name", "s"))
  private[tools] val orderCols = Seq(Col("o_orderkey", "i"), Col("o_custkey", "i"),
    Col("o_orderpriority", "s"), Col("o_orderstatus", "s"),
    Col("o_orderdate", "d"))

  // RE2∩Java, no anchors, no backreferences, no $/\ in replacements —
  // the first-match rewrite's constraint set, so every pattern works
  // in BOTH replacement modes
  private[tools] val patterns =
    Seq("[aeiou]", "[0-9]+", "[a-z]{3}", " ", "a.", "(a|e)n", "l+")
  private[tools] val replacements = Seq("", "*", "X", "__")
  private[tools] val formats = Seq("'%Y-%m-%d'", "'%d/%m/%Y'", "'Qtr %m of %Y'")
  private[tools] val units =
    Seq("day", "month", "year", "hour", "minute", "second")

  private[tools] def pick[T](r: Random, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  private[tools] def sCol(r: Random, cols: Seq[Col]): String =
    pick(r, cols.filter(_.kind == "s")).name
  private[tools] def iCol(r: Random, cols: Seq[Col]): String =
    pick(r, cols.filter(_.kind == "i")).name

  /** Integer-valued scalar expression (exact on both engines). */
  private[tools] def intExpr(r: Random, cols: Seq[Col]): String = {
    val hasDate = cols.exists(_.kind == "d")
    val n = r.nextInt(if (hasDate) 16 else 14)
    (if (!hasDate && n >= 7) n + 2 else n) match {
      case 12 => // ^ / ** power pins (x112): XOR in bare Spark
        s"CAST((${iCol(r, cols)} % ${3 + r.nextInt(5)}) " +
          s"${pick(r, Seq("^", "**"))} ${2 + r.nextInt(2)} AS BIGINT)"
      case 13 => // // integer division incl. the NULL-on-zero divisor
        s"(${iCol(r, cols)} // ${pick(r, Seq("3", "7",
          s"(${iCol(r, cols)} % 4)"))})"
      case 15 => // registry-resolved DuckDB names (GraftExtensions.dialect)
        val s = sCol(r, cols)
        r.nextInt(5) match {
          case 0 => s"CAST(strpos($s, '${pick(r, Seq("A", "AN", "E"))}') " +
            "AS BIGINT)"
          case 1 => s"(CASE WHEN ends_with($s, " +
            s"'${pick(r, Seq("A", "N", "Y"))}') THEN 1 ELSE 0 END)"
          case 2 => s"CAST(unicode($s) AS BIGINT)"
          case 3 => s"CAST(len(regexp_split_to_array($s, " +
            s"'${pick(r, patterns)}')) AS BIGINT)"
          case 4 => // the value list of a hit, [] on a miss
            s"CAST(len(map_extract(map(list_value('A', 'E', 'I'), " +
              s"list_value(1, 2, 3)), upper(substr($s, 1, 1)))) AS BIGINT)"
        }
      case 14 => // full-match ~, GLOB, ^@ as CASE conditions
        s"(CASE WHEN ${sCol(r, cols)} ${pick(r, Seq("~ '[A-Za-z ]+'",
          "~ '[a-z]+'", "!~ '.*[0-9].*'", "^@ 'A'", "GLOB '[A-Z]*'",
          "GLOB '?-*'", "GLOB '*a*'"))} THEN 1 ELSE 0 END)"
      case 0 => s"CAST(len(string_split(${sCol(r, cols)}, ' ')) AS BIGINT)"
      case 1 =>
        s"CAST(length(regexp_replace(${sCol(r, cols)}, " +
          s"'${pick(r, patterns)}', '${pick(r, replacements)}', 'g')) " +
          "AS BIGINT)"
      case 2 => // FIRST-match replace — the x94-class divergence zone
        s"CAST(length(regexp_replace(${sCol(r, cols)}, " +
          s"'${pick(r, patterns)}', '${pick(r, replacements)}')) " +
          "AS BIGINT)"
      case 3 =>
        s"(CASE WHEN regexp_matches(${sCol(r, cols)}, " +
          s"'${pick(r, patterns)}') THEN 1 ELSE 0 END)"
      case 4 =>
        s"CAST(list_unique(list_transform(string_split(" +
          s"${sCol(r, cols)}, ' '), x -> length(x))) AS BIGINT)"
      case 5 => s"(${iCol(r, cols)} % ${2 + r.nextInt(7)})"
      case 6 =>
        s"CAST(length(array_to_string(list_slice(" +
          s"string_split(lower(${sCol(r, cols)}), ' '), 1, " +
          s"${1 + r.nextInt(4)}), '|')) AS BIGINT)"
      case 9 => // negative-length left/right (the x107 pin zone)
        s"CAST(length(${pick(r, Seq("left", "right"))}(" +
          s"${sCol(r, cols)}, ${r.nextInt(7) - 3})) AS BIGINT)"
      case 10 => // log is log10 in the dialect; operand kept >= 1
        s"CAST(round(log(CAST(${iCol(r, cols)} + 2 AS DOUBLE)) * 100) " +
          "AS BIGINT)"
      case 11 =>
        s"CAST(length(substr(${sCol(r, cols)}, 0, " +
          s"${1 + r.nextInt(5)})) AS BIGINT)"
      case 7 =>
        val d = pick(r, cols.filter(_.kind == "d")).name
        s"date_diff('${pick(r, units)}', $d, TIMESTAMP " +
          "'1996-06-30 12:00:00')"
      case 8 =>
        val d = pick(r, cols.filter(_.kind == "d")).name
        r.nextInt(6) match {
          case 5 => s"epoch_ms(CAST($d AS TIMESTAMP))"
          case 0 => s"CAST(date_part('${pick(r, Seq("dow", "doy"))}', " +
            s"$d) AS BIGINT)"
          case 1 => // EXTRACT spelling of the pinned fields (x115)
            s"CAST(EXTRACT(${pick(r, Seq("dow", "isodow", "doy",
              "week", "second"))} FROM $d) AS BIGINT)"
          case 2 => // lexer sugar rides any statement (x115)
            s"(${iCol(r, cols)} % 1_0${1 + r.nextInt(8)})"
          case 3 => // date_trunc DATE pin (x121): trunc, diff back to
            // an integer grid — day-and-coarser yields DATE both sides
            s"date_diff('day', date_trunc('${pick(r, Seq("week",
              "month", "quarter", "year"))}', $d), $d)"
          case 4 => // type-alias pins (x122): INTn / bare-DECIMAL
            // defaults under arithmetic
            s"CAST(CAST(${iCol(r, cols)} AS INT8) % 97 AS BIGINT)"
        }
    }
  }

  /** String-valued scalar expression. */
  private[tools] def strExpr(r: Random, cols: Seq[Col]): String = {
    val hasDate = cols.exists(_.kind == "d")
    r.nextInt(if (hasDate) 6 else 5) match {
      case 0 => s"regexp_extract(${sCol(r, cols)}, '${pick(r, patterns)}')"
      case 1 =>
        s"regexp_replace(${sCol(r, cols)}, '${pick(r, patterns)}', " +
          s"'${pick(r, replacements)}')"
      case 2 =>
        s"array_to_string(list_sort(string_split(lower(" +
          s"${sCol(r, cols)}), ' ')), '|')"
      case 3 => r.nextInt(5) match {
        case 4 => // bare-VARCHAR / bare-DECIMAL alias pins (x122): the
          // (18,3) default renders with its three decimals both sides
          s"CAST(CAST(${iCol(r, cols)} % 89 + 0.5 AS DECIMAL) " +
            "AS VARCHAR)"
        case 0 => s"upper(${sCol(r, cols)})"
        case 1 => // swapped-argument 2-arg trims (the x108 pin zone)
          s"${pick(r, Seq("ltrim", "rtrim", "trim"))}(" +
            s"${sCol(r, cols)}, '${pick(r, Seq("AEIOU", "0123456789-",
              " RF", "a e"))}')"
        case 2 => s"substr(sha256(${sCol(r, cols)}), 1, 8)"
        case 3 => s"to_hex(CAST(${iCol(r, cols)} % 4096 AS BIGINT))"
      }
      case 4 => r.nextInt(4) match {
        case 0 =>
          s"json_extract_string('{\"k\": ' || CAST(${iCol(r, cols)} " +
            s"AS STRING) || '}', 'k')"
        case 3 => // a pinned call spelled inside a literal is data
          s"'${pick(r, Seq("regexp_matches(", "regexp_replace(", "log(",
            "date_diff(''day'', "))}' || ${sCol(r, cols)} || ')'"
        case 1 => // concat NULL-skip pin (x117)
          s"concat(${sCol(r, cols)}, nullif(${sCol(r, cols)}, " +
            s"${sCol(r, cols)}), '-', ${iCol(r, cols)} % 9)"
        case 2 => // printf NULL-propagation pin (x117)
          s"printf('%s:%d', nullif(${sCol(r, cols)}, 'URGENT'), " +
            s"${iCol(r, cols)} % 50)"
      }
      case 5 =>
        val d = pick(r, cols.filter(_.kind == "d")).name
        if (r.nextBoolean()) s"strftime($d, ${pick(r, formats)})"
        else // DATE + INTERVAL is a TIMESTAMP in DuckDB: back to DATE
          s"CAST(CAST($d + to_days(${1 + r.nextInt(40)}) AS DATE) AS VARCHAR)"
    }
  }

  private[tools] def pred(r: Random, cols: Seq[Col], keyCap: Long): String =
    r.nextInt(4) match {
      case 0 => s"${iCol(r, cols)} % ${2 + r.nextInt(5)} = ${r.nextInt(2)}"
      case 1 => s"regexp_matches(${sCol(r, cols)}, '${pick(r, patterns)}')"
      case 2 => s"${sCol(r, cols)} LIKE '%${('a' + r.nextInt(26)).toChar}%'"
      case 3 => s"${iCol(r, cols)} <= $keyCap"
    }

  private[tools] def aggExpr(r: Random, cols: Seq[Col]): String =
    r.nextInt(10) match {
      case 9 => r.nextInt(2) match { // registry-resolved aggregates
        case 0 => s"CAST(quantile_disc(${iCol(r, cols)}, " +
          s"0.${25 * (1 + r.nextInt(3))}) AS BIGINT)"
        case 1 => // the first column is the table's unique key: no ties
          s"arg_max(${sCol(r, cols)}, ${cols.head.name})"
      }
      case 6 => r.nextInt(3) match {
        case 0 =>
          s"CAST(round(quantile_cont(CAST(${iCol(r, cols)} AS DOUBLE), " +
            s"0.${25 * (1 + r.nextInt(3))}) * 100) AS BIGINT)"
        case 1 => // sample-corrected moments (the probe-5 pin zone)
          s"ROUND(skewness(CAST(${iCol(r, cols)} % 37 AS DOUBLE)), 4)"
        case 2 =>
          s"ROUND(kurtosis(CAST(${iCol(r, cols)} % 23 AS DOUBLE)), 4)"
      }
      case 7 => // histogram serialized through map_keys/map_values
        s"array_to_string(map_${pick(r, Seq("keys", "values"))}(" +
          s"histogram(${iCol(r, cols)} % ${3 + r.nextInt(6)})), '|')"
      case 8 => // levenshtein / editdist3 (x116 pins)
        s"CAST(SUM(${pick(r, Seq("levenshtein", "editdist3"))}(" +
          s"${sCol(r, cols)}, 'URGENT')) AS BIGINT)"
      case 0 => s"CAST(SUM(${intExpr(r, cols)}) AS BIGINT)"
      case 1 => s"CAST(MAX(${intExpr(r, cols)}) AS BIGINT)"
      case 2 => s"CAST(MIN(${intExpr(r, cols)}) AS BIGINT)"
      case 3 => s"MIN(${strExpr(r, cols)})"
      case 4 => s"COUNT(DISTINCT ${strExpr(r, cols)})"
      case 5 =>
        s"COUNT(*) FILTER (WHERE ${pred(r, cols, 1000)})"
    }

  private[tools] def statement(r: Random, i: Int): String = {
    val s = statement0(r, i)
    // a third of statements carry a QUOTE-bearing comment right after
    // SELECT — the literal-parity interaction zone the comment
    // stripper exists for (both engines lex it as whitespace)
    if (r.nextInt(3) == 0)
      s.replaceFirst("SELECT ", "SELECT " + pick(r, Seq(
        "/* it's a comment */ ", "/* don\"t */ ", "/* plain */ ")))
    else s
  }

  private def statement0(r: Random, i: Int): String = {
    val (table, cols, key, group, keyCap) =
      if (r.nextBoolean())
        ("nation", nationCols, "n_nationkey", "n_regionkey", 25L)
      else ("orders", orderCols, "o_orderkey",
        pick(r, Seq("o_orderpriority", "o_orderstatus")), 2000L)
    r.nextInt(19) match {
      case 0 => // grouped aggregate
        s"SELECT $group, COUNT(*) AS n, ${aggExpr(r, cols)} AS a1, " +
          s"${aggExpr(r, cols)} AS a2 FROM $table " +
          s"WHERE ${pred(r, cols, keyCap)} AND $key <= $keyCap " +
          s"GROUP BY $group ORDER BY $group"
      case 1 => // per-row scalars, key-ordered
        s"SELECT $key, ${intExpr(r, cols)} AS s1, " +
          s"${strExpr(r, cols)} AS s2 FROM $table " +
          s"WHERE ${pred(r, cols, keyCap)} AND $key <= ${keyCap / 2} " +
          s"ORDER BY $key"
      case 2 => // ordered string aggregation per group
        s"SELECT $group, string_agg(${strExpr(r, cols)}, ',' " +
          s"ORDER BY $key) AS sa, COUNT(*) AS n FROM $table " +
          s"WHERE $key <= ${keyCap / 2} GROUP BY $group ORDER BY $group"
      case 3 => // QUALIFY over a ranked window (alias-referenced)
        s"SELECT $key, $group, ROW_NUMBER() OVER (PARTITION BY $group " +
          s"ORDER BY $key) AS rn FROM $table WHERE $key <= $keyCap " +
          s"QUALIFY rn <= ${1 + r.nextInt(4)} ORDER BY $group, $key"
      case 4 => // DISTINCT ON: first row per group under a total order
        s"SELECT DISTINCT ON ($group) $group, $key, " +
          s"${intExpr(r, cols)} AS v FROM $table " +
          s"WHERE $key <= $keyCap ORDER BY $group, $key"
      case 5 => // unnest of a split list, one generator
        s"SELECT $key, unnest(string_split(lower(${sCol(r, cols)}), " +
          s"' ')) AS tok FROM $table WHERE $key <= ${math.min(keyCap, 40L)} " +
          s"ORDER BY $key, tok"
      case 6 => // CTE + join back on the group key
        s"WITH g AS (SELECT $group AS gk, COUNT(*) AS cnt FROM $table " +
          s"WHERE $key <= $keyCap GROUP BY $group) " +
          s"SELECT t.$key, g.cnt, (t.$key % ${2 + r.nextInt(5)}) AS v " +
          s"FROM $table t JOIN g ON t.$group = g.gk " +
          s"WHERE t.$key <= ${keyCap / 4} ORDER BY t.$key"
      case 7 => // window aggregates over a TOTAL order (deterministic)
        val frame = pick(r, Seq(
          s"ROWS BETWEEN ${1 + r.nextInt(3)} PRECEDING AND CURRENT ROW",
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
          s"ROWS BETWEEN CURRENT ROW AND ${1 + r.nextInt(3)} FOLLOWING"))
        s"SELECT $key, CAST(SUM($key % 17) OVER (PARTITION BY $group " +
          s"ORDER BY $key $frame) AS BIGINT) AS w1, " +
          s"CAST(lag($key, ${1 + r.nextInt(2)}) OVER (ORDER BY $key) " +
          s"AS BIGINT) AS w2 FROM $table WHERE $key <= ${keyCap / 2} " +
          s"ORDER BY $key"
      case 8 => // IGNORE NULLS placement (in-paren, the x101 rewrite)
        s"SELECT $key, CAST(last_value(CASE WHEN $key % 3 = 0 THEN " +
          s"$key END IGNORE NULLS) OVER (ORDER BY $key ROWS BETWEEN " +
          s"UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS locf " +
          s"FROM $table WHERE $key <= ${keyCap / 2} ORDER BY $key"
      case 9 => // set operations with an explicit NULL-safe order
        val op = pick(r, Seq("EXCEPT", "INTERSECT", "UNION"))
        s"SELECT $group FROM $table WHERE ${pred(r, cols, keyCap)} " +
          s"$op SELECT $group FROM $table WHERE ${pred(r, cols, keyCap)} " +
          s"ORDER BY $group"
      case 10 => // ROLLUP with the NULL total row pinned NULLS FIRST
        s"SELECT $group, COUNT(*) AS n, CAST(SUM($key % 13) AS BIGINT) " +
          s"AS v FROM $table WHERE $key <= $keyCap " +
          s"GROUP BY ROLLUP($group) ORDER BY $group NULLS FIRST"
      // ---- composition templates (r13 verdict item 5): pinned
      // functions INSIDE clause/statement rewrites — the r13 bug class
      // (rewrites skipping rewrites) was an interaction bug, so the
      // grammar must sample interactions, not just features alone.
      case 11 => // pinned aggregate inside HAVING (post-GROUP filter)
        s"SELECT $group, COUNT(*) AS n, " +
          s"CAST(SUM(${intExpr(r, cols)}) AS BIGINT) AS v FROM $table " +
          s"WHERE $key <= $keyCap GROUP BY $group " +
          s"HAVING CAST(SUM(${intExpr(r, cols)}) AS BIGINT) > " +
          s"${r.nextInt(25)} ORDER BY $group"
      case 12 => // moments OVER a window (the x108 windowed-form fix):
        // whole-partition frame — order-insensitive, so hashable
        val fn = pick(r, Seq("skewness", "kurtosis"))
        s"SELECT $key, ROUND($fn(CAST($key % ${17 + r.nextInt(20)} AS " +
          s"DOUBLE)) OVER (PARTITION BY $group), 4) AS mw FROM $table " +
          s"WHERE $key <= $keyCap ORDER BY $key"
      case 13 => // trim-swap / log / sha256 pins UNDER QUALIFY
        s"SELECT $key, $group, ${strExpr(r, cols)} AS s1, " +
          s"CAST(round(log(CAST($key + 2 AS DOUBLE)) * 100) AS BIGINT) " +
          s"AS lg, ROW_NUMBER() OVER (PARTITION BY $group ORDER BY " +
          s"$key) AS rn FROM $table WHERE $key <= $keyCap " +
          s"QUALIFY rn <= ${1 + r.nextInt(3)} ORDER BY $group, $key"
      case 14 => // pinned exprs in CASE branches + TRY_CAST + negative
        // literals (unary minus adjacent to rewrite-scanned tokens)
        s"SELECT $key, (CASE WHEN ${pred(r, cols, keyCap)} THEN " +
          s"${intExpr(r, cols)} ELSE (${intExpr(r, cols)}) * -1 END) " +
          s"AS c1, TRY_CAST(regexp_extract(${sCol(r, cols)}, '[0-9]+') " +
          s"AS BIGINT) AS tc, CAST(($key - ${5 + r.nextInt(40)}) % " +
          s"${2 + r.nextInt(6)} AS BIGINT) AS neg FROM $table " +
          s"WHERE $key <= ${keyCap / 2} ORDER BY $key"
      case 15 => // FROM-first statement carrying pinned scalars (the
        // statement-rewrite path must re-enter function dispatch)
        s"FROM $table SELECT $key, ${strExpr(r, cols)} AS s1, " +
          s"${intExpr(r, cols)} AS v WHERE $key <= ${keyCap / 2} " +
          s"ORDER BY $key"
      case 16 => // COLUMNS fan-out + a pinned log() in the SAME select
        s"SELECT $group, MIN(COLUMNS('key')) AS " + "\"mn_\\0\"" +
          s", CAST(round(log(CAST(MAX($key) + 2 AS DOUBLE)) * 100) AS " +
          s"BIGINT) AS lg, COUNT(*) AS n FROM $table " +
          s"WHERE $key <= $keyCap GROUP BY $group ORDER BY $group"
      case 17 if cols.exists(_.kind == "d") => // time_bucket grid +
        // ordered-list checksum (x114) + shared agg names (x113)
        val d = pick(r, cols.filter(_.kind == "d")).name
        val iv = pick(r, Seq("6 hours", "2 days", "1 week", "3 months"))
        s"SELECT time_bucket(INTERVAL '$iv', $d) AS b, COUNT(*) AS n, " +
          s"array_to_string(list_slice(list($key % 50 ORDER BY $key" +
          s"${pick(r, Seq("", " DESC"))}), 1, ${3 + r.nextInt(5)}), " +
          s"'|') AS lk, CAST(median($key) * 2 AS BIGINT) AS md2, " +
          s"bit_xor($key % ${32 + r.nextInt(64)}) AS bx " +
          s"FROM $table WHERE $key <= $keyCap GROUP BY 1 ORDER BY b"
      case 18 => // nullable ORDER BY: the NULLS-LAST default pin zone
        // (single NULL key keeps ranks and the LIMIT row set exact)
        val nk = 1 + r.nextInt((keyCap / 2).toInt)
        s"SELECT $key, CAST(ROW_NUMBER() OVER (ORDER BY " +
          s"nullif($key, $nk)) AS BIGINT) AS rn FROM $table " +
          s"WHERE $key <= ${keyCap / 2} " +
          s"ORDER BY nullif($key, $nk) LIMIT ${5 + r.nextInt(15)}"
      case 17 => // no-date table: shared agg names alone
        s"SELECT $group, CAST(median($key) * 2 AS BIGINT) AS md2, " +
          s"bit_and($key % 16) AS ba, bit_or($key % 16) AS bo, " +
          s"bit_xor($key % ${16 + r.nextInt(48)}) AS bx, " +
          s"bool_and(${pred(r, cols, keyCap)}) AS bnd, " +
          s"array_to_string(list($key % 9 ORDER BY $key DESC), '') AS lk " +
          s"FROM $table WHERE $key <= $keyCap GROUP BY $group " +
          s"ORDER BY $group"
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val count = if (args.length > 2) args(2).toInt else 300
    val seed = if (args.length > 3) args(3).toLong else 13L
    val spark = graft.GraftSession
      .builder("local[8]", shufflePartitions = 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Sql.open(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    val r = new Random(seed)
    val entries = (0 until count).map { i =>
      val sql = statement(r, i)
      val name = f"fuzz_$i%04d"
      val status =
        try {
          val df = graft.LakeSql.sql(spark, sql)
          df.coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          "ran"
        } catch {
          case e: IllegalArgumentException => "refused: " + e.getMessage
          case e: Throwable =>
            "error: " + e.getClass.getSimpleName + " " +
              Option(e.getMessage).getOrElse("").take(160)
        }
      (name, sql, status)
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = entries.map { case (n, sql, st) =>
      s"${q(n)}: {${q("sql")}: ${q(sql)}, ${q("status")}: ${q(st)}}"
    }.mkString("{\n", ",\n", "\n}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$outDir/statements.json"),
      json.getBytes("UTF-8"))
    val ran = entries.count(_._3 == "ran")
    val refused = entries.count(_._3.startsWith("refused"))
    val errored = count - ran - refused
    println(s"FUZZ ran=$ran refused=$refused error=$errored seed=$seed")
    entries.filter(_._3.startsWith("error")).take(10).foreach { e =>
      println(s"  ${e._1}: ${e._3}\n    ${e._2}")
    }
    spark.stop()
  }
}
