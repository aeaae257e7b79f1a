package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

/** ScalaCheck properties for the dialect parser's text machinery: for
  * ANY string literal — including ones spelling clause keywords,
  * commas, parens, doubled quotes, and mask-sentinel look-alikes —
  * the literal masking must be a perfect roundtrip through every
  * rewrite, and the CH clause rewrites must be value-equivalent to
  * their ANSI forms on arbitrary parameters.
  */
object ParserProps extends Properties("parser") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20)

  // literal fragments chosen to ambush the clause regexes
  private val fragment: Gen[String] = Gen.oneOf(
    "GROUP BY x WITH TOTALS", "LIMIT 5, 10", "ARRAY JOIN arr AS a",
    "FROM t FINAL", "SAMPLE 0.3", "PREWHERE z", "SETTINGS a=1",
    "quantile(0.5)(x)", "a, b, c", "((", "))", "'", "plain",
    "INSERT INTO t SELECT", "ALTER TABLE t DELETE WHERE 1",
    "", "0", "AS SELECT")

  private val literal: Gen[String] = for {
    parts <- Gen.listOfN(3, fragment)
  } yield parts.mkString(" ")

  property("string literals pass through every rewrite untouched") =
    Prop.forAll(literal) { lit =>
      val spark = SparkSpec.spark
      val quoted = lit.replace("'", "''")
      // a CH clause in the text forces the full rewrite machinery to
      // run around the literal; the same fragments inside a block and a
      // line comment must fire nothing either
      val out = spark.sql(
        s"SELECT '$quoted' AS s /* $lit */, count(1) AS n FROM range(7) " +
          s"-- $lit\nGROUP BY 1 WITH TOTALS ORDER BY s NULLS LAST LIMIT 0, 5")
        .collect()
      (out.length == 2) :| s"rows: ${out.length}" &&
        (out.head.getString(0) == lit) :| s"got '${out.head.getString(0)}'"
    }

  property("LIMIT o,n equals LIMIT n OFFSET o for any offsets") =
    Prop.forAll(Gen.choose(0, 30), Gen.choose(1, 30)) { (o, n) =>
      val spark = SparkSpec.spark
      val ch = spark.sql(
        s"SELECT id FROM range(25) ORDER BY id LIMIT $o, $n")
        .collect().map(_.getLong(0)).toSeq
      val ansi = spark.sql(
        s"SELECT id FROM range(25) ORDER BY id LIMIT $n OFFSET $o")
        .collect().map(_.getLong(0)).toSeq
      (ch == ansi) :| s"CH $ch vs ANSI $ansi"
    }

  property("quantile(L)(x) equals percentile(x, L) for any level") =
    Prop.forAll(Gen.choose(1, 99)) { pct =>
      val spark = SparkSpec.spark
      val l = pct / 100.0
      val ch = spark.sql(
        s"SELECT quantile($l)(id) FROM range(101)")
        .collect().head.getDouble(0)
      val ansi = spark.sql(
        s"SELECT percentile(id, $l) FROM range(101)")
        .collect().head.getDouble(0)
      (ch == ansi) :| s"CH $ch vs ANSI $ansi"
    }

  property("chType maps every generated CH type, Nullable/Array composing") = {
    import org.apache.spark.sql.types._
    val base = Gen.oneOf("UInt8", "UInt16", "UInt32", "UInt64", "Int8",
      "Int16", "Int32", "Int64", "Float32", "Float64", "String", "Date",
      "DateTime", "Bool", "FixedString(2)", "FixedString(16)",
      "LowCardinality(String)", "Enum8('a' = 1)", "Decimal(18, 4)")
    def wrap(t: String, depth: Int): Gen[String] =
      if (depth == 0) Gen.const(t)
      else Gen.oneOf(
        wrap(s"Array($t)", depth - 1),
        wrap(s"Nullable($t)", depth - 1),
        Gen.const(t))
    val typeGen = for {
      b <- base
      d <- Gen.choose(0, 3)
      t <- wrap(b, d)
    } yield t
    Prop.forAll(typeGen) { t =>
      val (dt, _) = graft.plans.ChDdl.chType(t)
      // every generated spelling maps; arrays nest to the same depth
      val arrayDepth = "Array\\(".r.findAllIn(t).length
      def depthOf(d: DataType): Int = d match {
        case ArrayType(e, _) => 1 + depthOf(e)
        case _ => 0
      }
      (depthOf(dt) == arrayDepth) :| s"$t -> $dt"
    }
  }

  property("CH arr[e] matches CH semantics for any index expression") = {
    // index expressions of random arithmetic over a {{param}} — the
    // placeholder gates the bracket rewrite, and the result must be
    // CH's 1-based element / type-default-on-miss for every value the
    // expression can take (incl. 0, negatives, past-the-end)
    Prop.forAll(Gen.choose(-3, 6), Gen.choose(-2, 2)) { (base, off) =>
      val spark = SparkSpec.spark
      graft.plans.QueryParams.set("pp_i", base.toString)
      try {
        val arr = Seq("a", "b", "c")
        import spark.implicits._
        Seq(Tuple1(arr)).toDF("arr").createOrReplaceTempView("props_br_t")
        val got = spark.sql(
          s"SELECT arr[{{pp_i}} + ($off)] AS e FROM props_br_t")
          .collect().head.getString(0)
        val i = base + off
        val want = if (i >= 1 && i <= arr.length) arr(i - 1) else ""
        (got == want) :| s"arr[$i]: got '$got' want '$want'"
      } finally graft.plans.QueryParams.remove("pp_i")
    }
  }

  property("YQL schema items parse for any case/not-null spelling") = {
    val types = Map(
      "uint64" -> "long", "uint32" -> "long", "int32" -> "integer",
      "uint16" -> "integer", "string" -> "string", "utf8" -> "string",
      "double" -> "double", "float" -> "float", "date" -> "date",
      "datetime" -> "timestamp", "bool" -> "boolean")
    def mixCase(s: String, seed: Long): String =
      s.zipWithIndex.map { case (c, i) =>
        if (((seed >> (i % 60)) & 1) == 1) c.toUpper else c
      }.mkString
    Prop.forAll(Gen.oneOf(types.keys.toSeq), Gen.long,
      Gen.oneOf("", " not null", " NOT NULL", " Not null")) {
      (t, seed, nn) =>
        val item = s"col1 ${mixCase(t, seed)}$nn"
        val f = graft.plans.YqlText.yqlField(item)
        (f.name == "col1") :| "name" &&
          (f.dataType.typeName == types(t)) :| s"$item -> ${f.dataType}" &&
          (f.nullable == nn.isEmpty) :| s"nullable for '$item'"
    }
  }

  property("YQL WITH options parse under any order and spacing") =
    Prop.forAll(Gen.oneOf(true, false), Gen.choose(0, 4)) { (quoted, pad) =>
      val sp = " " * pad
      val fmt = if (quoted) "'csv_with_names'" else "csv_with_names"
      val opts = Seq(
        s"compression$sp=$sp gzip",
        s"format$sp=$sp$fmt",
        s"Schema$sp=$sp(a uint64 not null,${sp}b string)")
      val body = scala.util.Random.shuffle(opts).mkString(", ")
      val (f, c, s) = graft.plans.YqlText.parseOptions(body)
      (f == "csv_with_names") :| "format" &&
        (c.contains("gzip")) :| "compression" &&
        (s.exists(_.fieldNames.toSeq == Seq("a", "b"))) :| "schema"
    }

  property("SAMPLE f is a nested deterministic subset for any fraction") =
    Prop.forAll(Gen.choose(5, 45), Gen.choose(50, 95)) { (fa, fb) =>
      val spark = SparkSpec.spark
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.types.MetadataBuilder
      val md = new MetadataBuilder()
        .putBoolean("graft.sampleKey", true).build()
      spark.range(0, 500).select(col("id").as("k", md))
        .createOrReplaceTempView("props_sample_t")
      def ids(f: Double) = spark.sql(
        s"SELECT k FROM props_sample_t SAMPLE $f")
        .collect().map(_.getLong(0)).toSet
      val small = ids(fa / 100.0)
      val big = ids(fb / 100.0)
      (small == ids(fa / 100.0)) :| "deterministic" &&
        small.subsetOf(big) :| s"${fa}% not nested in ${fb}%"
    }

  // SAMPLE f OFFSET o: windows at consecutive offsets are DISJOINT and
  // together equal the doubled window — CH's parallel-workers contract.
  property("SAMPLE OFFSET windows are disjoint and partition the space") =
    Prop.forAll(Gen.choose(5, 45)) { fi =>
      val spark = SparkSpec.spark
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.types.MetadataBuilder
      val md = new MetadataBuilder()
        .putBoolean("graft.sampleKey", true).build()
      spark.range(0, 500).select(col("id").as("k", md))
        .createOrReplaceTempView("props_sample_o_t")
      val f = fi / 100.0
      def ids(sql: String) = spark.sql(
        s"SELECT k FROM props_sample_o_t $sql")
        .collect().map(_.getLong(0)).toSet
      val a = ids(s"SAMPLE $f")
      val b = ids(s"SAMPLE $f OFFSET $f")
      val both = ids(s"SAMPLE ${2 * f}")
      (a.intersect(b).isEmpty :| s"overlap f=$f") &&
        ((a ++ b) == both) :| s"union != doubled window f=$f"
    }
}
