package graft.ext

import org.apache.spark.sql.DataFrame

import scala.collection.mutable.ArrayBuffer

/** The one owner of the frames an operator persists to keep its plans
  * short. Each frame goes through one policy, named at the call site, and
  * the scope ([[Lineage.apply]], or [[Lineage.checkpointed]] for an
  * operator that returns a frame) unpersists every frame it tracked when
  * the body returns or throws, so no generation outlives its operator.
  *
  *   - [[keep]]: persist; the first action that reads the frame fills it.
  *     A frame repartitioned on its join key and kept is used directly: the
  *     InMemoryRelation keeps its hash partitioning and measured size, so
  *     every join on that key reuses one exchange.
  *   - [[fill]]: persist and materialise now, one `count()` per frame — for
  *     a frame whose first reader is a job that reads it more than once
  *     (two tasks of one job can compute the same cached partition).
  *   - [[Lineage.anchor]]: a short-lineage leaf over a kept or filled frame.
  *   - [[release]]: unpersist one frame before the scope ends.
  *
  * [[iterate]] is the generation loop: it fills every n-th generation and
  * continues from an anchor over it.
  */
private[graft] final class Lineage private () {
  private val held = ArrayBuffer[DataFrame]()

  def keep(df: DataFrame): DataFrame = {
    if (!held.exists(_ eq df)) {
      df.persist()
      held += df
    }
    df
  }

  /** Persists each of `dfs` (unless already kept) and fills it with a
    * `count()`, in turn; returns their row counts, in order.
    */
  def fill(dfs: DataFrame*): Seq[Long] = dfs.map(keep(_).count())

  def release(df: DataFrame): Unit = {
    held.filterInPlace(_ ne df)
    df.unpersist()
  }

  /** `steps` applications of `step` (the current generation, the 1-based
    * step) from `init`. Every `every`-th generation before the last is
    * filled and the loop continues from an anchor over it, so no plan is
    * more than `every` steps deep. A generation re-evaluates once per
    * reference, so a step reading the previous generation twice wants a
    * small `every`. With `rollover` the previously filled generation is
    * released then; without it every filled generation stays until the
    * scope ends, for a caller whose output still reads them.
    */
  def iterate(init: DataFrame, steps: Int, every: Int, rollover: Boolean)
             (step: (DataFrame, Int) => DataFrame): DataFrame = {
    var cur = init
    var last: Option[DataFrame] = None
    for (i <- 1 to steps) {
      cur = step(cur, i)
      if (i % every == 0 && i < steps) {
        fill(cur)
        if (rollover) last.foreach(release)
        last = Some(cur)
        cur = Lineage.anchor(cur)
      }
    }
    cur
  }
}

private[graft] object Lineage {

  /** Runs `body` with a fresh scope and unpersists every frame the scope
    * still tracks when it returns or throws.
    */
  def apply[A](body: Lineage => A): A = {
    val lin = new Lineage
    try body(lin)
    finally lin.held.foreach(_.unpersist())
  }

  /** An operator's scope: the frame `body` returns is eagerly local-
    * checkpointed before the scope releases what it reads, so the output
    * neither reads a released cache nor carries the body's lineage.
    */
  def checkpointed(body: Lineage => DataFrame): DataFrame =
    apply(lin => body(lin).localCheckpoint(true))

  /** A leaf over `df`'s rows, read through its cache when it has one. Later
    * plans over the leaf neither re-analyse nor re-canonicalise `df`'s
    * lineage, which a loop that nests references to the previous
    * generation would otherwise pay at every occurrence, in driver time.
    * The leaf hides `df`'s size stats and output partitioning: joins
    * against it plan as sort-merge with the other side re-shuffled.
    * Unlike a local checkpoint, it executes the cache's adaptive plan.
    */
  def anchor(df: DataFrame): DataFrame = df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** `df` persisted and materialised now by a `count()`, owned by the
    * caller. The `count()` runs the cache's adaptive plan; a local
    * checkpoint would materialise the non-adaptive one.
    */
  def filled(df: DataFrame): DataFrame = {
    df.persist().count()
    df
  }
}
