package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The staged-fixture protocol, in ONE place (r12 verdict #10): a stage
  * directory is trusted iff it carries a completion marker whose NAME
  * encodes the layout GENERATION and EVERY parameter that shaped the
  * content. Anything else — missing marker, older generation, different
  * parameters — is deleted and rebuilt, never trusted (a half-written
  * stage from a crashed run, or a stage built for other parameters, is a
  * silent correctness bug at the oracle; the t22 k=6 near-miss is the
  * canonical example of a hand-rolled marker missing a parameter).
  *
  * The marker is written LAST, after `build` completes, so a crash
  * mid-build leaves an untrusted directory.
  */
object StagedFixture {

  /** Sanitized marker file name for (generation, params). */
  private[graft] def markerName(gen: String, params: Seq[Any]): String =
    ("_STAGED_" + (gen +: params.map(String.valueOf)).mkString("_"))
      .replaceAll("[^A-Za-z0-9_.-]", "_")

  /** Ensure `path` holds a stage built at `gen` with `params`; runs
    * `build` (which must write everything under `path`) only when the
    * matching marker is absent. Idempotent and crash-safe in the
    * delete-then-write sense; NOT concurrency-safe across processes
    * (fixture staging is single-process by construction here).
    */
  def ensure(s: SparkSession, path: String, gen: String, params: Seq[Any] = Nil)
            (build: => Unit): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val marker = new Path(p, markerName(gen, params))
    if (!fs.exists(marker)) {
      fs.delete(p, true)
      build
      fs.create(marker, true).close()
    }
  }

  /** Append `df` as plain parquet files to `dir`: an external producer's
    * landing zone (the input an ingest key such as COPY INTO reads),
    * never a lake table — lake tables stage only through the lake's
    * write path.
    */
  def land(df: DataFrame, dir: String): Unit = df.write.mode("append").parquet(dir)
}
