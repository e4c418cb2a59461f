package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** The session configs every entry point applies. */
class TablesSpec extends AnyFunSuite {

  private val key = "spark.sql.optimizer.excludedRules"
  private val rule =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** Run `body` with the launcher's exclusion list set to `value` (None:
    * unset), restoring whatever was there before. */
  private def withLauncherRules[T](value: Option[String])(body: => T): T = {
    def set(v: Option[String]): Unit = v match {
      case Some(x) => sys.props.update(key, x)
      case None => sys.props.remove(key)
    }
    val saved = sys.props.get(key)
    set(value)
    try body
    finally set(saved)
  }

  test("excludedRules appends InferFiltersFromGenerate to the launcher's list") {
    withLauncherRules(None) {
      assert(Tables.requiredConfs(key) == rule)
    }
    val launcher = "org.apache.spark.sql.catalyst.optimizer.ConstantFolding"
    withLauncherRules(Some(launcher)) {
      assert(Tables.requiredConfs(key) == s"$launcher,$rule")
    }
    // already excluded by the launcher: kept once, in the launcher's order
    withLauncherRules(Some(s"$rule, $launcher")) {
      assert(Tables.requiredConfs(key) == s"$rule,$launcher")
    }
  }
}
