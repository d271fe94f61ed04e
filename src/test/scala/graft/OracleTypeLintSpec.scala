package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process._

/** Oracle result-type lint.
  *
  * Round-5 (q59/q38 ancestors) and round-6 (q55_repetition,
  * q60_sequence_packing) both hash-failed for the same reason: DuckDB types
  * an uncast aggregate SUM as HUGEINT (int128), a type Spark cannot produce,
  * so the driver's type-folding hasher diverges even when every value
  * matches. This spec ends the bug family: it executes EVERY
  * `SparkEntry.oracleSql` under the same DuckDB that the driver uses
  * (python3 + duckdb are present in the build container) and fails if any
  * result column resolves to a type outside the Spark-representable set.
  *
  * The lint is a type-check, not a value-check (the driver's CORRECTNESS
  * pass owns values); `duckdb.sql(...)` resolves the schema without
  * materialising the full result, so the whole catalog lints in seconds at
  * sf0.001.
  */
class OracleTypeLintSpec extends AnyFunSuite {

  private val banned = Seq("HUGEINT", "UHUGEINT", "INT128")

  test("every oracle SQL yields only Spark-representable column types under DuckDB") {
    val pythonOk = Process(Seq("python3", "-c", "import duckdb")).!(ProcessLogger(_ => ())) == 0
    assume(pythonOk, "python3+duckdb not available in this environment")
    // resolve the fixture dir the same way the specs do (env override
    // first), and SKIP — not fail — where the data is absent, so `sbt
    // test` is not coupled to this container's layout
    val dataDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")
    assume(new java.io.File(dataDir).isDirectory, s"fixture data absent at $dataDir")

    val sqlJson = SparkEntry.oracleSql
      .map { case (k, v) => s"${Verify.jsonEscape(k)}: ${Verify.jsonEscape(v)}" }
      .mkString("{", ",", "}")
    val dir = Files.createTempDirectory("oracle_lint")
    val sqlPath = dir.resolve("oracle_sql.json")
    Files.writeString(sqlPath, sqlJson)

    val script =
      s"""import duckdb, json, sys, glob, os
        |sql = json.load(open(sys.argv[1]))
        |con = duckdb.connect()
        |for p in glob.glob('$dataDir/*.parquet'):
        |    t = os.path.basename(p).replace('.parquet', '')
        |    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        |out = {}
        |for name, q in sorted(sql.items()):
        |    try:
        |        rel = con.sql(q)
        |        out[name] = [f"{c}:{t}" for c, t in zip(rel.columns, map(str, rel.types))]
        |    except Exception as e:
        |        out[name] = [f"__ERROR__:{type(e).__name__}: {e}"]
        |print(json.dumps(out))
        |""".stripMargin
    val scriptPath = dir.resolve("lint.py")
    Files.writeString(scriptPath, script)

    val out = new StringBuilder
    val rc = Process(Seq("python3", scriptPath.toString, sqlPath.toString))
      .!(ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n')))
    assert(rc == 0, s"lint script failed (rc=$rc):\n$out")

    // minimal JSON parse: {"name": ["col:TYPE", ...], ...} — names and
    // column entries are jsonEscape'd by us / json.dumps'd by python, and
    // contain no unescaped quotes we need to handle beyond \" pairs.
    val json = out.toString.trim
    val entryRe = """"((?:[^"\\]|\\.)*)"\s*:\s*\[((?:[^\]\\"]|"(?:[^"\\]|\\.)*")*)\]""".r
    val colRe = """"((?:[^"\\]|\\.)*)"""".r
    val parsed: Map[String, Seq[String]] = entryRe.findAllMatchIn(json).map { m =>
      m.group(1) -> colRe.findAllMatchIn(m.group(2)).map(_.group(1)).toSeq
    }.toMap

    assert(parsed.keySet == SparkEntry.oracleSql.keySet,
      s"lint output missing queries: ${SparkEntry.oracleSql.keySet -- parsed.keySet}")

    val errors = parsed.collect {
      case (name, cols) if cols.exists(_.startsWith("__ERROR__")) =>
        s"$name: ${cols.filter(_.startsWith("__ERROR__")).mkString("; ")}"
    }
    assert(errors.isEmpty, s"oracle SQL failed under DuckDB:\n${errors.mkString("\n")}")

    val offenders = parsed.toSeq.flatMap { case (name, cols) =>
      cols.filter(c => banned.exists(b => c.toUpperCase.contains(b))).map(c => s"$name → $c")
    }
    assert(offenders.isEmpty,
      s"oracle SQL produces non-Spark-representable column types (add CAST(... AS BIGINT)):\n${offenders.mkString("\n")}")
  }
}
