package graft.analyze

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class CodeTokenizeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("native expression agrees with the pure tokenizer on varied inputs") {
    val inputs = Seq(
      "def parseHTTPResponse2(x): return snake_case_name",
      "val myVar_2 = readFile(path)",
      "", "   ", "CONSTANT", "a" * 200,
      "mixed 文字 and code_tokens99")
    val got = inputs.toDF("s")
      .select(CodeTokenize.tokens($"s").as("t")).as[Seq[String]].collect()
    inputs.zip(got).foreach { case (in, out) =>
      assert(out == Tokenizer.tokenize(in).toSeq, s"mismatch for: $in")
    }
  }

  test("null input yields null (null-intolerant unary)") {
    val out = Seq[Option[String]](None, Some("x")).toDF("s")
      .select(CodeTokenize.tokens($"s").as("t")).collect()
    assert(out(0).isNullAt(0))
    assert(out(1).getSeq[String](0) == Seq("x"))
  }

  test("stays inside whole-stage codegen (no ScalaUDF in the plan)") {
    val df = Seq("someCodeHere").toDF("s").select(CodeTokenize.tokens($"s"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"))
    val codegenPlan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.CodegenMode)
    assert(codegenPlan.contains("WholeStageCodegen"))
    assert(codegenPlan.contains("code_tokenize") || plan.contains("code_tokenize"))
  }

  test("non-string input fails analysis with a clear message") {
    val e = intercept[Exception] {
      Seq(1).toDF("n").select(CodeTokenize.tokens($"n")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("string"))
  }
}
