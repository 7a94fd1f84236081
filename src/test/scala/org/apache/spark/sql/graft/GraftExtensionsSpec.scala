// Lives under org.apache.spark.sql because SparkSessionExtensions'
// registerFunctions, the step a session build takes, is private[sql].
package org.apache.spark.sql.graft

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** `spark.sql.extensions=graft.plans.GraftExtensions` is how a session
  * gets `clean_text` in SQL. Spark loads that class by name, applies it
  * to the session's extensions and builds the function registry from
  * them; this spec takes the same steps.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("loaded by class name, GraftExtensions registers clean_text and " +
      "rejects the wrong number of arguments") {
    val ext = new SparkSessionExtensions
    Class.forName("graft.plans.GraftExtensions").getConstructor()
      .newInstance().asInstanceOf[SparkSessionExtensions => Unit](ext)
    val registry = ext.registerFunctions(FunctionRegistry.builtin.clone())
    val id = FunctionIdentifier("clean_text")
    val e = registry.lookupFunction(id,
      Seq(Literal("(\"Mental health\", 1.0)")))
    assert(e.eval() == UTF8String.fromString("Mental health"))
    for (args <- Seq(Nil, Seq(Literal("a"), Literal("b")))) {
      val err = intercept[AnalysisException](
        registry.lookupFunction(id, args))
      assert(err.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION")
    }
  }
}
