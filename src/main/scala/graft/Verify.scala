package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The driver's comparator canonicalizes decimal values through float
    * repr before hashing, so a DECIMAL whose exact string carries trailing
    * fractional zeros ("23.00") hashes differently from the float "23.0"
    * (round-4 verdict: predicts all 71 r4 outcomes with zero exceptions;
    * the round-3 int-backed-parquet-encoding theory was disproved — the
    * FLBA switch landed and flipped nothing). Fix at the gate surface
    * only: dump every output decimal as DOUBLE, mirrored by
    * CAST(... AS DOUBLE) in the corresponding oracleSql. Exactly-equal
    * decimals convert to bit-identical doubles on both engines — the path
    * all 27 double-typed queries already prove. Operators keep their
    * decimal types; this touches nothing but the verify dump.
    */
  def decimalsAsDouble(df: DataFrame): DataFrame = {
    val out = df.select(df.schema.fields.map { f =>
      f.dataType match {
        case _: DecimalType => col(f.name).cast(DoubleType).as(f.name)
        case _              => col(f.name)
      }
    }.toIndexedSeq: _*)
    // Only top-level decimals are rewritten; a decimal nested in a
    // struct/array/map would bypass the DOUBLE gate and re-trigger the
    // trailing-zero hash failures silently — fail fast instead.
    def hasDecimal(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: DecimalType => true
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasDecimal(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType  => hasDecimal(a.elementType)
      case m: org.apache.spark.sql.types.MapType    => hasDecimal(m.keyType) || hasDecimal(m.valueType)
      case _ => false
    }
    require(!out.schema.fields.exists(f => hasDecimal(f.dataType)),
      s"nested DecimalType survives the DOUBLE gate in schema ${out.schema.simpleString}; " +
      "flatten it or extend decimalsAsDouble to recurse")
    out
  }

  /** Guard against the DOUBLE gate silently weakening the oracle: two
    * decimals differing only beyond double precision (~2^53 of the unscaled
    * value) would collapse to the same double and falsely hash-match. At
    * sf0.01/sf0.1 magnitudes are far below the bound; this assert makes the
    * precondition explicit so a larger SF can't violate it unnoticed.
    *
    * Runs against the already-dumped parquet (r6 advice): a pre-dump
    * aggregate action recomputed every decimal-bearing query — and re-ran
    * the fred/fundamentals pipelines' driver-side side effects — roughly
    * doubling verify wall-clock. Reading back the single dumped file costs
    * milliseconds and checks the exact bytes the driver will compare.
    * `decs` carries (name, scale) from the ORIGINAL schema; the dump has
    * already cast those columns to double.
    */
  def assertDoubleExact(dumped: DataFrame, decs: Seq[(String, Int)]): Unit = {
    import org.apache.spark.sql.functions.{abs, max}
    if (decs.nonEmpty) {
      val maxes = dumped.agg(max(abs(col(decs.head._1))), decs.tail.map(d => max(abs(col(d._1)))): _*)
        .head().toSeq
      decs.zip(maxes).foreach { case ((name, scale), m) =>
        val bound = BigDecimal(2).pow(53) / BigDecimal(10).pow(scale)
        val v = if (m == null) BigDecimal(0) else BigDecimal(m.toString)
        require(v < bound,
          s"decimal column $name max |value| $v exceeds double-exact bound $bound (scale $scale)")
      }
    }
  }

  /** The registered queries a comma-separated main argument names, or
    * the message the main exits with: at least one name, and every name
    * registered, so a typo fails loudly instead of running nothing. */
  def querySubset(arg: String, registered: collection.Set[String]): Either[String, Set[String]] = {
    val names = arg.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names.filterNot(registered).toSeq.sorted
    if (names.isEmpty) Left(s"no query named in '$arg'")
    else if (unknown.nonEmpty) Left(s"unknown queries: ${unknown.mkString(", ")}")
    else Right(names)
  }

  val usage = "usage: graft.Verify <sf dir> <out dir> [query,query,...]"

  /** `(sfDir, outDir, subset)` of Verify's arguments, or the message it
    * exits with. The optional third argument names a subset of queries
    * (local iteration on one operator without the full dump). */
  def parseArgs(args: Seq[String], registered: collection.Set[String])
      : Either[String, (String, String, Option[Set[String]])] = args match {
    case Seq(sf, out) => Right((sf, out, None))
    case Seq(sf, out, names) => querySubset(names, registered).map(s => (sf, out, Some(s)))
    case _ => Left(usage)
  }

  /** Prints `msg` to stderr and exits the JVM with status 2. */
  def exitWith(msg: String): Nothing = {
    System.err.println(msg)
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, subset) =
      parseArgs(args.toSeq, SparkEntry.queries.keySet).fold(exitWith, identity)
    val spark = GraftSession.getOrCreate("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => subset.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val decs = df.schema.fields.collect { case f if f.dataType.isInstanceOf[DecimalType] =>
          (f.name, f.dataType.asInstanceOf[DecimalType].scale)
        }.toSeq
        val path = s"$outDir/$name"
        decimalsAsDouble(df).coalesce(1).write.mode("overwrite").parquet(path)
        // Check the dump, not the plan: one compute per query. If the bound
        // fails, remove the dump so the driver sees a missing result (loud
        // fail), never a silently-weakened hash match.
        // NonFatal, not just IllegalArgumentException: any failure of the
        // post-dump check (read-back, analysis) must remove the dump, or
        // the driver hash-compares bytes that never passed the gate
        try assertDoubleExact(spark.read.parquet(path), decs)
        catch { case scala.util.control.NonFatal(e) =>
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path)); throw e
        }
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        // queries that persist sub-frames hand cache lifecycle to the
        // caller — drop them even on failure so a throwing query can't
        // leak cached frames into every subsequent dump. clearCache only
        // reaches persist()ed frames: a localCheckpoint's blocks belong to
        // the RDD under its LogicalRDD leaf and stay until the context
        // cleaner collects that RDD
        spark.catalog.clearCache()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
