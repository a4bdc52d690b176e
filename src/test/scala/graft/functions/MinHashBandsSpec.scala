package graft.functions

import graft.{SparkTestSession, Tables, TestData}
import graft.queries.PipelinePack
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The band-signature expression against the relational derivation it
  * replaced (split, explode, distinct, 128 `min(xxhash64(k, h0))`
  * aggregates, banding), kept here as the oracle.
  */
class MinHashBandsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def oracle(docs: DataFrame): DataFrame = {
    val grams = docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), explode(when(size(col("ts")) >= 3,
          expr("transform(sequence(0, size(ts) - 3), " +
            "i -> concat_ws(' ', ts[i], ts[i+1], ts[i+2]))"))
        .otherwise(array().cast("array<string>"))).as("g"))
      .distinct()
      .withColumn("h0", xxhash64(col("g")))
    val mh = (0 until 128).map(k => min(xxhash64(lit(k), col("h0"))).as(s"mh_$k"))
    grams.groupBy("doc_id").agg(mh.head, mh.tail: _*)
      .select(col("doc_id"), array((0 until 128).map(k => col(s"mh_$k")): _*).as("mh"))
      .select(col("doc_id"), posexplode(expr("transform(sequence(0, 31), " +
        "b -> xxhash64(b, mh[b*4], mh[b*4+1], mh[b*4+2], mh[b*4+3]))")))
      .toDF("doc_id", "band", "sig")
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def docsOf(texts: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    texts.toDF("doc_id", "text")
  }

  private val edgeTexts: Seq[(Long, String)] = Seq(
    1L -> null, 2L -> "", 3L -> "a", 4L -> "a b", 5L -> "a b c",
    6L -> " a b c", 7L -> "a b c ", 8L -> "a  b c", 9L -> "  ", 10L -> " a",
    11L -> "héllo wörld 日本 語 テキスト 🙂 x", 12L -> "a b c a b c a b c",
    13L -> "the cat sat on the mat the cat sat", 14L -> "a\tb c\nd e",
    15L -> "   x y z   ")

  test("signatures equal the relational derivation on the sf0.001 and sf0.01 documents") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val docs = Tables.documents(spark, TestData.dir(sf))
      val got = PipelinePack.bandSignatures(docs)
      val want = oracle(docs)
      assert(got.schema === want.schema, sf)
      assert(got.count() === want.count(), sf)
      assert(got.exceptAll(want).count() === 0L, sf)
      assert(want.exceptAll(got).count() === 0L, sf)
    }
  }

  test("edge cases: null, empty, short, empty tokens, multi-byte and repeated grams") {
    val docs = docsOf(edgeTexts)
    val got = PipelinePack.bandSignatures(docs)
    assert(rows(got) === rows(oracle(docs)))
    // no 3-gram: no rows; two spaces are three empty tokens, one gram
    val ids = got.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids === Set(5L, 6L, 7L, 8L, 9L, 11L, 12L, 13L, 14L, 15L))
    assert(got.groupBy("doc_id").count().collect().forall(_.getLong(1) == 32L))
    // a repeated gram changes nothing: "a b c a b c" has the grams of
    // "a b c a b c a b c"
    val rep = PipelinePack.bandSignatures(docsOf(Seq(12L -> "a b c a b c")))
    assert(rows(rep) === rows(got.filter(col("doc_id") === 12L)))
  }

  test("malformed UTF-8 hashes what split decodes it to") {
    val docs = spark.range(1).select(col("id").as("doc_id"),
      unhex(lit("61FF2062C32063E282")).cast("string").as("text"))
    assert(rows(PipelinePack.bandSignatures(docs)) === rows(oracle(docs)))
    assert(PipelinePack.bandSignatures(docs).count() === 32L)
  }

  test("rows sharing a doc_id merge their grams in the streaming hook") {
    // single-gram texts, a gram repeated within a document
    val docs = docsOf(Seq(
      1L -> "alpha beta gamma", 1L -> "beta gamma delta", 1L -> "alpha beta gamma",
      2L -> "one two three", 2L -> "four five six", 3L -> null, 3L -> "x y",
      4L -> null, 5L -> "a b c d e"))
    assert(rows(PipelinePack.bandSignaturesOf(docs)) === rows(oracle(docs)))
    assert(rows(PipelinePack.bandSignaturesOf(docs.filter(col("doc_id") === 5L))) ===
      rows(PipelinePack.bandSignatures(docs.filter(col("doc_id") === 5L))))
  }

  test("interpreted eval equals codegen") {
    val corpus = Tables.documents(spark, TestData.dir("sf0.001"))
      .select("text").limit(50).collect().map(_.getString(0)).toSeq
    val texts = edgeTexts.map(_._2) ++ corpus
    def both(e: org.apache.spark.sql.catalyst.expressions.Expression, in: Seq[InternalRow]) = {
      val interp = InterpretedUnsafeProjection.createProjection(Seq(e))
      val gen = GenerateUnsafeProjection.generate(Seq(e))
      in.map(r => (interp(r).copy(), gen(r).copy()))
    }
    val single = both(MinHashBands(BoundReference(0, StringType, nullable = true)),
      texts.map(t => InternalRow(UTF8String.fromString(t))))
    for (((i, g), t) <- single.zip(texts)) {
      assert(i === g, String.valueOf(t))
      assert(i.isNullAt(0) === (t == null || t.split(" ", -1).length < 3), String.valueOf(t))
    }
    val groups = texts.grouped(3).toSeq
    val merged = both(
      MinHashBands(BoundReference(0, ArrayType(StringType), nullable = true)),
      groups.map(g => InternalRow(new GenericArrayData(g.map(UTF8String.fromString).toArray[Any]))))
    for ((i, g) <- merged) assert(i === g)
  }

  test("plan: a projection and a generator; a doc_id filter sits below it at the scan") {
    // a private copy of the documents: no memo of another suite caches a
    // plan over it, so the plan below is bandSignatures' own
    val tmp = java.nio.file.Files.createTempDirectory("graft-minhash-plan")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(TestData.dir("sf0.001"), "documents.parquet"),
      tmp.resolve("documents.parquet"))
    try {
      val docs = Tables.documents(spark, tmp.toString)
      val plan = PipelinePack.bandSignatures(docs).queryExecution.executedPlan.treeString
      assert(!plan.contains("Exchange"), plan)
      assert(!plan.contains("HashAggregate"), plan)
      assert(plan.contains("Generate"), plan)

      val filtered = PipelinePack.bandSignatures(docs).filter(col("doc_id") % 10 === 7)
      val opt = filtered.queryExecution.optimizedPlan
      val gen = opt.collectFirst { case g: Generate => g }.get
      // every filter of the plan is under the generator, on the relation
      val filters = opt.collect { case f: Filter => f }
      assert(filters.nonEmpty && filters.forall(f =>
        gen.child.find(_ eq f).isDefined && f.child.isInstanceOf[LogicalRelation] &&
          f.condition.references.exists(_.name == "doc_id")), opt.treeString)
      assert(rows(filtered) ===
        rows(oracle(docs).filter(col("doc_id") % 10 === 7)))
      assert(filtered.collect().map(_.getAs[Long]("doc_id")).forall(_ % 10 == 7))
      assert(filtered.count() > 0L)
    } finally {
      java.nio.file.Files.delete(tmp.resolve("documents.parquet"))
      java.nio.file.Files.delete(tmp)
    }
  }
}
