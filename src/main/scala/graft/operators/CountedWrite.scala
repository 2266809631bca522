package graft.operators

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

/** Counts taken from the write itself: a fresh [[Observation]] rides the
  * write's own job, so a row or reject count costs no read-back and no
  * probe job. Observed metrics arrive through an asynchronous listener,
  * so the wait for them is bounded; metrics that do not arrive inside it
  * (or arrive empty) fall back to the caller's exact count — a count is
  * never wrong or missing, at worst it costs the job it used to.
  */
private[graft] object CountedWrite {

  /** How long observed metrics may take to arrive once the write returned. */
  val Wait: FiniteDuration = 10.seconds

  /** Run `write`, handing it a function that tags a frame with the
    * aggregate `metrics` (each aliased), and return its result with the
    * metrics row. `write` runs its first action over the tagged frame
    * before it returns; `exact(result)` computes the same row with a job
    * of its own, for when the observation does not arrive within `wait`.
    */
  def apply[A](metrics: Column*)(write: (DataFrame => DataFrame) => A)(
      exact: A => Row, wait: Duration = Wait): (A, Row) = {
    val obs = Observation()
    val out = write(_.observe(obs, metrics.head, metrics.tail: _*))
    val row = Try(Await.result(obs.future, wait)).toOption
      .filter(_.length == metrics.length)
      .getOrElse(exact(out))
    (out, row)
  }
}
