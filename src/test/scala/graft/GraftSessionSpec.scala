package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** Function registration happens once per session: the extension path
  * and the explicit `install` path must not both write the registry.
  */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("create keeps the extension-injected entry for every graft function") {
    val registry = spark.sessionState.functionRegistry
    for ((name, _) <- GraftFunctions.all) {
      // GraftExtensions tags its entries with class name "graft"; a second
      // registration replaces the entry (and logs a WARN per function)
      val info = registry.lookupFunction(new FunctionIdentifier(name))
      assert(info.map(_.getClassName) === Some("graft"), s"$name was re-registered")
    }
  }

  test("install registers every graft function on a vanilla session") {
    // a session built without the extensions, the way Verify builds one:
    // the builder only creates a new session when none is active/default
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val vanilla = try SparkSession.builder().getOrCreate() finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
    assert(vanilla ne spark)
    val registry = vanilla.sessionState.functionRegistry
    assert(GraftFunctions.all.forall { case (name, _) =>
      !registry.functionExists(new FunctionIdentifier(name)) })
    GraftSession.install(vanilla)
    assert(vanilla.sql("SELECT cell_of(1.0D, 2.0D, 4)").head().getLong(0) ===
      graft.geom.CellIndex.cellOf(1.0, 2.0, 4))
    for ((name, _) <- GraftFunctions.all) {
      val rows = vanilla.sql(s"DESCRIBE FUNCTION $name").collect()
      assert(rows.exists(_.getString(0).contains(name)),
        s"$name does not resolve through spark.sql")
    }
  }
}
