package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, HigherOrderFunction, LambdaFunction, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.ShingleSet

/** The `shingle_set` kernel: equal to the higher-order-function chain it
  * replaced (sorted and deduplicated), on the fixture docs and on edge
  * strings, through both interpreted `eval` and generated code; and the
  * n-gram key's plan shingles each document once.
  */
class ShingleSetSpec extends GraftSuite {

  /** The shingle chain the kernel replaced: xxhash64 over each word
    * triple of split(text, ' '), built with zip_with lambdas. Unsorted,
    * with repeats, and null for null text. */
  private def hofShingles(text: Column): Column = {
    val w = split(text, " ")
    val pairs = zip_with(w, slice(w, lit(2), size(w)),
      (x, y) => struct(x.as("a"), y.as("b")))
    val tris = zip_with(pairs, slice(w, lit(3), size(w)),
      (p, z) => xxhash64(p.getField("a"), p.getField("b"), z))
    slice(tris, lit(1), greatest(size(w) - lit(2), lit(0)))
  }

  private def hofSet(text: Column): Column =
    coalesce(array_sort(array_distinct(hofShingles(text))),
      array().cast("array<bigint>"))

  private val edges: Seq[String] = Seq(
    "", " ", "  ", "one", "one two", "one two three", " one two three",
    "one two three ", "one  two three", "a b a b a b a b", "a\tb c d",
    "x x x x x", "héllo wörld ñandú çava", "😀 🎉 a 😀 🎉 a 🎉", null)

  private val bound = ShingleSet(BoundReference(0, StringType, nullable = true))
  private lazy val generated = GenerateUnsafeProjection.generate(Seq(bound))

  private def viaEval(s: String): Seq[Long] =
    ShingleSet(Literal.create(s, StringType)).eval(InternalRow.empty)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq

  private def viaCodegen(s: String): Seq[Long] =
    generated(InternalRow(if (s == null) null else UTF8String.fromString(s)))
      .getArray(0).toLongArray().toSeq

  private def strictlyAscending(xs: Seq[Long]): Boolean =
    xs.zip(xs.drop(1)).forall { case (a, b) => a < b }

  test("shingle_set equals the sorted, distinct HOF shingle chain on the sf0.001 docs") {
    val docs = Tables(spark, sf0001, "documents")
    val mismatched = docs
      .filter(not(call_function("shingle_set", col("text")) <=> hofSet(col("text"))))
      .count()
    assert(docs.count() == 500)
    assert(mismatched == 0, s"$mismatched docs differ from the HOF chain")
  }

  test("shingle_set on edge strings: equal to the HOF chain, empty under 3 words and for null") {
    import spark.implicits._
    val df = edges.toDF("text")
    val got = df.select(col("text"), call_function("shingle_set", col("text")).as("k"),
        hofSet(col("text")).as("h"))
      .collect().map(r => (Option(r.getString(0)), r.getSeq[Long](1), r.getSeq[Long](2)))
    assert(got.length == edges.length)
    for ((t, k, h) <- got) assert(k == h, s"text=$t kernel=$k hof=$h")
    val byText = got.map { case (t, k, _) => t -> k }.toMap
    for (t <- Seq("", " ", "one", "one two")) assert(byText(Some(t)).isEmpty, t)
    assert(byText(None).isEmpty, "null text must give the empty set")
    // doubled, leading and trailing spaces make empty words: 4 "words"
    assert(byText(Some(" one two three")).length == 2)
    assert(byText(Some("one two three ")).length == 2)
    assert(byText(Some("one  two three")).length == 2)
    // a tab is part of its word, not a separator: 3 words, 1 shingle
    assert(byText(Some("a\tb c d")).length == 1)
    // repeats collapse: "a b a" and "b a b" are the only triples
    assert(byText(Some("a b a b a b a b")).length == 2)
    assert(byText(Some("x x x x x")).length == 1)
    val one = spark.range(1).select(xxhash64(lit("one"), lit("two"), lit("three")))
      .head().getLong(0)
    assert(byText(Some("one two three")) == Seq(one))
  }

  test("shingle_set output is sorted and distinct through eval and generated code") {
    val fixture = Tables(spark, sf0001, "documents").select("text").limit(50)
      .collect().map(_.getString(0)).toSeq
    for (s <- edges ++ fixture) {
      val e = viaEval(s)
      val g = viaCodegen(s)
      assert(e == g, s"eval and generated code differ on '$s'")
      assert(strictlyAscending(e), s"not sorted-distinct on '$s': $e")
    }
    assert(!bound.nullable)
    assert(!bound.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull)
  }

  /** Every node of the final adaptive plan, query stages unwrapped;
    * a reused exchange is a leaf. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case _ => p +: p.children.flatMap(nodes)
  }

  private def isDocIdExchange(p: SparkPlan): Boolean = p match {
    case s: ShuffleExchangeExec => s.outputPartitioning match {
      case h: HashPartitioning => h.expressions.map(_.references.map(_.name))
        .flatten.toSet == Set("doc_id")
      case _ => false
    }
    case _ => false
  }

  test("llm_dedup_ngram_jaccard scans, shuffles and shingles each document once") {
    val df: DataFrame = SparkEntry.queries("llm_dedup_ngram_jaccard")(spark, sf0001)
    df.collect()
    val all = nodes(df.queryExecution.executedPlan)
    val scans = all.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, s"documents scanned ${scans.size} times")
    val docExchanges = all.filter(isDocIdExchange)
    assert(docExchanges.size == 1, s"${docExchanges.size} doc_id exchanges")
    val reused = all.collect { case r: ReusedExchangeExec if isDocIdExchange(r.child) => r }
    assert(reused.nonEmpty, "the verify branch does not reuse the doc_id exchange")
    def exprs(p: SparkPlan): Seq[Expression] =
      nodes(p).flatMap(_.expressions.flatMap(_.collect { case e => e }))
    val below = exprs(docExchanges.head.children.head)
    assert(!below.exists(e => e.isInstanceOf[LambdaFunction] ||
      e.isInstanceOf[HigherOrderFunction] || e.isInstanceOf[ShingleSet]),
      "shingle work runs below the doc_id exchange")
    val above = exprs(df.queryExecution.executedPlan)
    assert(!above.exists(e => e.isInstanceOf[LambdaFunction] ||
      e.isInstanceOf[HigherOrderFunction]), "a lambda function is left in the plan")
  }
}
