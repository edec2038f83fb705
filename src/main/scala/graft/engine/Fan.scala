package graft.engine

import org.apache.spark.sql.DataFrame

/** Round-robin fans to the session's parallelism, shared by the text,
  * multimodal and similarity families.
  *
  * PRE-shuffle ([[ifNarrow]]): a fixture table is one parquet file with
  * one row group, i.e. one input partition, so an expansion-heavy or
  * CPU-bound map stage over the bare scan serializes on one core. The
  * fan only happens when the table's scan is narrower than the session
  * (the RelQueries.scala:91 guard): a production table with many files
  * must not pay a full-table shuffle for width it already has. The
  * width probe (`.rdd` = planning + codegen) is a fixed table property,
  * memoized epoch-STABLE per (session, sfDir, table), and runs on the
  * CANONICAL table scan, never on the frame being fanned (ADVICE r15
  * #2), so a caller's shuffled or checkpointed frame can neither poison
  * the entry nor be mispriced by it. The two fanned tables are the
  * documents (text and multimodal families, via [[docs]]) and the
  * embeddings, fanned once under the `Similarity.vecs` checkpoint
  * that every similarity query reads.
  *
  * POST-shuffle ([[postShuffle]], `graft.fan.postShuffle`, default on):
  * local mode re-spreads an AQE-coalesced intermediate to session width
  * before checkpointing it; a 100 TB cluster sets `off` rather than pay
  * that re-shuffle. Results are identical either way (the `fanoff`
  * profile of `tools/probe_all.sh` runs the oracle gate with it off),
  * and like every `graft.*` conf the gate is part of each memo key
  * ([[SessionCache]]), so a flip mid-session rebuilds the re-fanned
  * artifacts: the two similarity memos `Similarity.cellRankedCached`
  * and `Similarity.lshSignaturesCached`. The text family's 8-gram set
  * is a column of the fanned `TextOps.docFeatures` checkpoint, so it
  * has no shuffle to undo.
  */
object Fan {
  private val widthCache = new SessionCache[java.lang.Boolean]

  /** `df` repartitioned to the session's parallelism when `probe` — the
    * canonical scan of the table `df` derives from, memoized under
    * `key` — has fewer partitions than that. */
  def ifNarrow(df: DataFrame, key: String)(probe: => DataFrame): DataFrame = {
    val s = df.sparkSession
    val par = s.sparkContext.defaultParallelism
    val narrow = widthCache.getStable(s, key)(probe.rdd.getNumPartitions < par)
    if (narrow) df.repartition(par) else df
  }

  /** [[ifNarrow]] for a frame derived from the documents table of `d`. */
  def docs(df: DataFrame, d: String): DataFrame =
    ifNarrow(df, s"$d|docsWidth")(Tables.documents(df.sparkSession, d))

  /** `df` re-spread to the session's parallelism when the post-shuffle
    * re-fan is on. */
  def postShuffle(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get("graft.fan.postShuffle", "on") != "off")
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df
}
