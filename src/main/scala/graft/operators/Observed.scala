package graft.operators

import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._

import org.apache.spark.sql.{Observation, Row}

/** Bounded reads of `Dataset.observe` metrics — the one way an operator
  * here reads an [[Observation]] ([[Pin]] reads its pin job's metrics
  * here). `Observation.get` blocks until the observed metrics arrive,
  * forever if the observed plan never ran (a pin that was optimized away,
  * an action on the wrong frame); this awaits `obs.future` with a timeout
  * instead and fails naming the operator and the observation. It runs no
  * job: the metrics ride the action that already executed the observed
  * plan.
  */
object Observed {

  /** Ceiling on the wait. Callers read after the observing action has
    * returned, so delivery is immediate in practice; the bound only turns
    * a would-be hang into an error.
    */
  val DefaultTimeout: FiniteDuration = 5.minutes

  /** The metrics row of `obs`, which `operator` recorded. */
  def row(obs: Observation, operator: String,
      timeout: FiniteDuration = DefaultTimeout): Row =
    try Await.result(obs.future, timeout)
    catch {
      case _: TimeoutException => throw new IllegalStateException(
        s"$operator: observation '${obs.name}' was not delivered within " +
          s"$timeout — the observed plan never ran")
    }
}
