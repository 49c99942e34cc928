package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}
import org.apache.spark.sql.catalyst.expressions.Literal

/** The two registration paths of the native functions agree:
  * `GraftExtensions` (session build) and `GraftFunctions.
  * ensureRegistered` (an already-built session). */
class GraftExtensionsSpec extends graft.SparkSpec {

  test("GraftExtensions registers exactly the functions ensureRegistered" +
      " does, each building the same expression") {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    // Spark applies injected functions through registerFunctions,
    // which Scala hides outside Spark's sql package; the JVM method
    // is public.
    val injected = new SimpleFunctionRegistry
    classOf[SparkSessionExtensions]
      .getMethod("registerFunctions", classOf[FunctionRegistry])
      .invoke(ext, injected)
    // A new session starts from the builtin registry, without the
    // shared session's temporary registrations.
    val fresh = spark.newSession()
    val reg = fresh.sessionState.functionRegistry
    val before = reg.listFunction().toSet
    GraftFunctions.ensureRegistered(fresh)
    val added = reg.listFunction().toSet -- before
    assert(added.nonEmpty)
    assert(injected.listFunction().toSet == added)
    val args = Seq.fill(3)(Literal(1))
    added.foreach { id =>
      assert(injected.lookupFunction(id, args).getClass
        == reg.lookupFunction(id, args).getClass, id)
    }
  }
}
