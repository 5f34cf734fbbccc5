package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** Every custom Catalyst expression must COMPILE under whole-stage
  * codegen — not just produce correct values.
  *
  * Why this suite exists: Spark swallows generated-code compile errors
  * and silently falls back to interpreted execution
  * (`spark.sql.codegen.fallback`, default true), so a broken
  * `doGenCode` passes every value-equality test while quietly running
  * the interpreter — exactly what happened when the expressions'
  * companion helpers were named `eval`: the inherited `Expression.eval`
  * suppressed the static forwarders the generated Java called, Janino
  * failed on every plan containing them, and nothing went red. With
  * `codegen.fallback=false` + `factoryMode=CODEGEN_ONLY`, a compile
  * failure throws instead.
  */
class CodegenSpec extends SparkSpec with BeforeAndAfterAll {
  // conf-mutating suite: isolated SQLConf (see SparkSpec.isolatedSession)
  override lazy val spark = isolatedSession

  import spark.implicits._

  private val strictConfs = Seq(
    "spark.sql.codegen.fallback" -> "false",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
  private var saved: Seq[(String, Option[String])] = Seq.empty

  override def beforeAll(): Unit = {
    super.beforeAll()
    saved = strictConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
    strictConfs.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  override def afterAll(): Unit = {
    saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    super.afterAll()
  }

  test("HashedShingles3 compiles and runs codegen-only") {
    val out = Seq(Seq("a", "b", "c", "d")).toDF("ws")
      .select(graft.functions.HashedShingles3(col("ws")).as("sh"))
      .collect().head.getSeq[Long](0)
    assert(out.length == 2 && out == out.sorted)
  }

  test("MinHashSignature compiles and runs codegen-only") {
    val out = Seq(Seq(1L, 2L, 3L)).toDF("sh")
      .select(graft.functions.MinHashSignature(col("sh"), 16).as("sig"))
      .collect().head.getSeq[Long](0)
    assert(out.length == 16)
  }

  test("WinnowMinMd5 compiles and runs codegen-only") {
    val out = Seq("the quick brown fox").toDF("t")
      .select(graft.functions.WinnowMinMd5(col("t")).as("fp"))
      .collect().head.getString(0)
    assert(out.matches("[0-9a-f]{32}"))
  }

  test("QuantizeI8 + DotProductI8 compile and run codegen-only") {
    val r = Seq(Seq(1.0, -0.5, 0.25)).toDF("v")
      .select(graft.functions.QuantizeI8(col("v"), lit(1.0 / 127)).as("q"))
      .select(graft.functions.DotProductI8(col("q"), col("q")).as("d"))
      .collect().head.getLong(0)
    assert(r == 127L * 127 + 64L * 64 + 32L * 32)
  }

  test("SignBandBuckets compiles and runs codegen-only") {
    val out = Seq(Seq.tabulate(8)(i => i - 3.5)).toDF("v")
      .select(graft.functions.SignBandBuckets(col("v"), 4, 4).as("b"))
      .collect().head.getSeq[Long](0)
    assert(out.length == 4 && out.forall(b => b >= 0 && b < 16))
  }

  test("DotProductF64 compiles and runs codegen-only") {
    val r = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
      .select(graft.functions.DotProductF64(col("a"), col("b")).as("d"))
      .collect().head.getDouble(0)
    assert(r == 11.0)
  }

  test("SortedLongIntersectSize compiles and runs codegen-only") {
    val r = Seq((Seq(1L, 2L, 5L), Seq(2L, 5L, 9L))).toDF("a", "b")
      .select(graft.functions.SortedLongIntersectSize(col("a"), col("b")).as("c"))
      .collect().head.getInt(0)
    assert(r == 2)
  }

  test("CmsEstimate compiles and runs codegen-only") {
    val buf = graft.functions.CountMinSketch.emptyBuffer
    graft.functions.CountMinSketch.add(buf, 42L)
    graft.functions.CountMinSketch.add(buf, 42L)
    val bytes = graft.functions.CountMinSketch.toBytes(buf)
    val r = Seq(Tuple1(bytes)).toDF("sk")
      .select(graft.functions.CmsEstimate(col("sk"), lit(42L)).as("est"))
      .collect().head.getLong(0)
    assert(r == 2L)
  }

  test("ZOrderKey compiles and runs codegen-only") {
    val z = Seq((3L, 5L)).toDF("x", "y")
      .select(graft.functions.ZOrderKey(col("x"), col("y")).as("z"))
      .collect().head.getLong(0)
    // x=0b11 -> even bits 0b101; y=0b101 -> odd bits 0b100010; z=0b100111
    assert(z == 39L, s"z=$z")
  }

  test("BloomMightContain compiles and runs codegen-only") {
    val buf = graft.functions.BloomFilter.emptyBuffer
    graft.functions.BloomFilter.add(buf, 42L)
    val bytes = graft.functions.BloomFilter.toBytes(buf)
    val r = Seq(Tuple1(bytes)).toDF("bf")
      .select(graft.functions.BloomMightContain(col("bf"), lit(42L)).as("hit"),
        graft.functions.BloomMightContain(col("bf"), lit(43L)).as("miss"))
      .collect().head
    assert(r.getBoolean(0), "inserted item must be found")
    assert(!r.getBoolean(1), "bloom with one item must reject a non-item here")
  }

  test("BloomMightContain rejects a non-filter blob with a descriptive error") {
    val e = intercept[Exception] {
      Seq(Tuple1(Array[Byte](1, 2, 3))).toDF("bf")
        .select(graft.functions.BloomMightContain(col("bf"), lit(1L)))
        .collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(e).exists(c =>
      String.valueOf(c.getMessage).contains("not a bloom filter")))
  }

  test("BloomCountContained compiles, counts, and rejects junk blobs") {
    import graft.functions.{BloomFilterAgg, BloomCountContained}
    val bf = Seq(1L, 2L, 3L).toDF("g")
      .agg(BloomFilterAgg(col("g")).as("bf"))
    val n = Seq(Tuple1(Seq(1L, 3L, 99L, 100L))).toDF("sh")
      .crossJoin(bf)
      .select(BloomCountContained(col("bf"), col("sh")).as("n"))
      .collect().head.getLong(0)
    // 1 and 3 are members; 99/100 may only false-positive (fpp ~1e-5)
    assert(n >= 2 && n <= 4)
  }

  test("DeflateSize compiles and runs codegen-only") {
    val out = Seq("ab" * 100, "xyz").toDF("s")
      .select(graft.functions.DeflateSize(col("s")).as("n"))
      .collect().map(_.getLong(0)).toSeq
    assert(out.length == 2 && out.forall(_ > 0) && out.head < 200)
  }

  test("NormalizeText compiles and runs codegen-only") {
    val out = Seq("A \t B", "Café").toDF("s")
      .select(graft.functions.NormalizeText(col("s")).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("a b", "café"))
  }

  test("PqAdcScore compiles and runs codegen-only") {
    // lut laid out subspace-major, kSub=4: subspace 0 -> [0,1,2,3],
    // subspace 1 -> [10,11,12,13]; codes (2, 1) -> 2.0 + 11.0
    val out = Seq((Seq(0.0, 1.0, 2.0, 3.0, 10.0, 11.0, 12.0, 13.0), Seq(2, 1)))
      .toDF("lut", "code")
      .select(graft.functions.PqAdcScore(col("lut"), col("code"), 4).as("s"))
      .collect().head.getDouble(0)
    assert(out == 13.0)
  }

  test("CmsEstimate rejects a non-sketch blob with a descriptive error") {
    val e = intercept[Exception] {
      Seq(Tuple1(Array[Byte](1, 2, 3))).toDF("sk")
        .select(graft.functions.CmsEstimate(col("sk"), lit(1L)))
        .collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(e).exists(c =>
      String.valueOf(c.getMessage).contains("not a CMS sketch")))
  }

  test("BoundParam compiles codegen-only and agrees with eval") {
    import graft.functions.BoundParam
    import org.apache.spark.sql.catalyst.expressions.Literal
    val ts = java.sql.Timestamp.valueOf("2025-09-10 13:00:56")
    val values = Seq[Any](ts, 42L, 2.5, "abc")
    val row = spark.range(3).toDF("id")
      .filter(col("id") >= BoundParam(1L))
      .select(values.map(v => BoundParam(v)) ++
        values.map(v => BoundParam(v) === lit(v)) :+ (col("id") + BoundParam(42L)): _*)
      .collect()
    assert(row.length == 2)
    assert(row.head.toSeq.take(4) == Seq(ts, 42L, 2.5, "abc"))
    assert(row.forall(_.toSeq.slice(4, 8) == Seq(true, true, true, true)))
    assert(row.map(_.getLong(8)).toSeq == Seq(43L, 44L))
    // eval returns the internal value the generated code reads
    values.foreach { v =>
      val l = Literal.create(v)
      assert(BoundParam(l.value, l.dataType).eval(null) == l.value)
    }
  }
}
