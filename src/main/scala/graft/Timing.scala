package graft

import org.apache.spark.sql.DataFrame

/** The program's one wall-clock timer. Bench, Verify, [[Dev]] and the
  * IVM phase hooks all time through it, so every reported second is
  * measured the same way. */
object Timing {

  /** `body`'s result and the wall-clock seconds it took. */
  def measure[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Wall-clock seconds `body` takes. */
  def seconds(body: => Any): Double = measure(body)._2

  /** Run `body`, reporting its wall-clock seconds to `timer` under
    * `label` — the per-phase hook through which the bench cells time the
    * same code the census keys run. */
  def timed[A](timer: (String, Double) => Unit, label: String)(body: => A): A = {
    val (r, s) = measure(body)
    timer(label, s)
    r
  }

  /** Run `df` to completion into the noop sink: every operator in the
    * plan executes (a bare count() could skip projection work) and
    * nothing is kept. */
  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
