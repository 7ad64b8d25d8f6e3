package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The output checks catch a broken operation: a run whose store or
  * report is wrong must count failed ops, so it can never read as a fast
  * correct one.
  */
class ChecksSpec extends AnyFunSuite {
  private lazy val state = Files.createTempDirectory("perfbench-checks")
  private lazy val spark = Main.session(state)

  /** A small billing run (two deliveries, a few reads); returns the
    * context with its op counts.
    */
  private def billingRun(tamper: Option[String]): Ctx = {
    val ctx = new Ctx(spark, state.resolve("data"), seed = 5, seconds = 0)
    ctx.tamper = tamper
    val w = new BillingDaily(rowsPerDay = 200, historyDays = 2,
      readsPerDelivery = 4)
    w.setup(ctx)
    w.run(ctx)
    ctx
  }

  test("a clean run passes every check") {
    val ctx = billingRun(None)
    assert(ctx.attempted == 2 + 2 * 4)
    assert(ctx.failed == 0, ctx.failureLog)
  }

  test("a doubled delivery fails the delivery and its reads") {
    val ctx = billingRun(Some("double_delivery"))
    assert(ctx.failed > 0)
    assert(ctx.failureLog.exists(_.contains("report records")), ctx.failureLog)
  }

  test("a wrong report total fails the delivery") {
    val ctx = billingRun(Some("report_total"))
    assert(ctx.failed == 2)
    assert(ctx.failureLog.forall(_.contains("report total")), ctx.failureLog)
  }
}
