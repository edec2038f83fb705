package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{ArrayMath, Fan, Tables}
import graft.engine.sim.Similarity

/** Every declared similarity query built on its own raw passes: each
  * plan scans `embeddings.parquet`, cleans, casts and norms the vectors
  * and fans them; the cell ranking ranks every vector against every
  * cell, and the LSH answer and IVF answer build their signatures and
  * ranking from the parquet scan. This is the per-query form that the
  * engine's one measured vector checkpoint (`Similarity.vecs`) and the
  * memoized cell ranks (kept to `rn <= maxProbe`) and signatures
  * replaced, kept as the reference every declared query must equal row
  * for row. The four graded queries are `AnnGradingReference`'s
  * per-point forms over these raw inputs. */
object SimilarityVectorsReference {

  private def vecs(s: SparkSession, d: String): DataFrame = {
    graft.engine.expr.GraftFunctions.register(s)
    Tables.cleanVectors(Tables.embeddings(s, d)).select(
      col("vec_id"), ArrayMath.toDouble(col("embedding")).as("f"), col("label"))
      .withColumn("nrm", ArrayMath.l2Norm(col("f")))
  }

  private def fan(df: DataFrame, d: String): DataFrame =
    Fan.ifNarrow(df, s"$d|vecWidth")(vecs(df.sparkSession, d))

  private def cosine(a: String, b: String, na: String, nb: String) =
    when(col(na) * col(nb) > 0,
      round(ArrayMath.dotNative(col(a), col(b)) / (col(na) * col(nb)), 6)).as("cos")

  private def truth(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d)
    broadcast(v.filter(col("vec_id") % 13 === 0)
        .select(col("vec_id").as("id1"), col("f").as("f1"), col("nrm").as("n1")))
      .crossJoin(fan(v.select(col("vec_id").as("id2"), col("f").as("f2"), col("nrm").as("n2")), d))
      .filter(col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"), cosine("f1", "f2", "n1", "n2"))
      .groupBy("id1")
      .agg(max(struct(col("cos"), (-col("id2")).as("nid"))).as("m"))
      .select(col("id1"), (-col("m.nid")).as("true_nn"))
  }

  private def cosPairs(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d)
    fan(v.select(col("vec_id").as("id1"), col("f").as("f1"), col("nrm").as("n1")), d)
      .crossJoin(v.select(col("vec_id").as("id2"), col("f").as("f2"), col("nrm").as("n2")))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), cosine("f1", "f2", "n1", "n2"))
  }

  private def nVecs(s: SparkSession, d: String): Long =
    Tables.cleanVectors(Tables.embeddings(s, d)).count()

  /** The full ranking: every cell for every vector. */
  private def cellRanked(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d)
    val n = nVecs(s, d)
    val stride = math.max(1L, n / Similarity.ivfK(n))
    val cells = v.filter(col("vec_id") % stride === 0).select(col("vec_id").as("cell"), col("f").as("cf"))
    fan(v, d).join(broadcast(cells))
      .withColumn("d2", round(ArrayMath.sqDistNative(col("f"), col("cf")), 6))
      .select(col("vec_id"), col("cell"), col("d2"), col("label"))
      .withColumn("rn", row_number().over(Window.partitionBy("vec_id").orderBy(col("d2"), col("cell"))))
  }

  private def round6(x: Double): Double =
    BigDecimal.valueOf(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def lshSignatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bits = Similarity.lshBits(nVecs(s, d))
    def wt(i: Int, j: Int): Long =
      (((i * 73 + 19) * (j * 31 + 7) + i.toLong * j * j + i.toLong * i) % 13) - 6
    fan(vecs(s, d).select("vec_id", "f"), d).as[(Long, Array[Double])]
      .mapPartitions(_.flatMap { case (id, f) =>
        (0 until 5).map { t =>
          var sig = 0L
          for (b <- 0 until bits) {
            var proj = 0.0
            for (i <- f.indices) proj += f(i) * wt(i + 1, t * bits + b)
            if (round6(proj) > 0) sig |= (1L << b)
          }
          (id, t.toLong, sig)
        }
      }).toDF("vec_id", "t", "sig")
  }

  private def scorePairs(s: SparkSession, d: String, cand: DataFrame): DataFrame = {
    val v = vecs(s, d)
    cand
      .join(v.select(col("vec_id").as("id1"), col("f").as("f1"), col("nrm").as("n1")), "id1")
      .join(v.select(col("vec_id").as("id2"), col("f").as("f2"), col("nrm").as("n2")), "id2")
      .select(cand.columns.map(col).toSeq :+ cosine("f1", "f2", "n1", "n2"): _*)
  }

  private def scoreBest(s: SparkSession, d: String, cand: DataFrame): DataFrame =
    scorePairs(s, d, cand)
      .groupBy("id1")
      .agg(max(struct(col("cos"), (-col("id2")).as("nid"))).as("m"))
      .select(col("id1"), (-col("m.nid")).as("nn_id"), col("m.cos").as("cos"))

  private def annLsh(s: SparkSession, d: String): DataFrame = {
    val sig = lshSignatures(s, d)
    scoreBest(s, d, sig.as("a").join(sig.as("b"),
        col("a.t") === col("b.t") && col("a.sig") === col("b.sig") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2")).distinct())
  }

  /** `nprobe` probes of the sampled (or every) query against the
    * assigned cells, as (id1, id2) plus the query's label l1 and the
    * vector's label l2. */
  private def probeAssigned(s: SparkSession, d: String, nprobe: Int, sampled: Boolean): DataFrame = {
    val ranked = cellRanked(s, d)
    ranked.filter(col("rn") <= nprobe && (lit(!sampled) || col("vec_id") % 13 === 0))
      .select(col("vec_id").as("id1"), col("cell"), col("label").as("l1"))
      .join(ranked.filter(col("rn") === 1)
        .select(col("vec_id").as("id2"), col("cell"), col("label").as("l2")), "cell")
      .filter(col("id1") =!= col("id2"))
  }

  private def annIvf(s: SparkSession, d: String): DataFrame =
    scoreBest(s, d, probeAssigned(s, d, 2, sampled = false).select("id1", "id2"))

  private def exploded(s: SparkSession, d: String): DataFrame =
    vecs(s, d).select(col("vec_id"), col("label"), posexplode(col("f")).as(Seq("p", "x")))
      .select(col("vec_id"), col("label"), (col("p") + 1).cast("long").as("i"), col("x"))

  private val raw = AnnGradingReference.Inputs(truth, cellRanked, lshSignatures,
    (s, d, q) => (if (q == "ann_lsh_topk") annLsh(s, d) else annIvf(s, d)).orderBy("id1"))

  /** Query name → its raw-pass reference build. */
  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq[(String, (SparkSession, String) => DataFrame)](
    "cosine_topk" -> ((s, d) => cosPairs(s, d).orderBy(desc("cos"), col("id1"), col("id2")).limit(100)),
    // the distributed window form, which SimilaritySpec proves equal to
    // the broadcast kernel below the row gate
    "knn_per_vector" -> ((s, d) => {
      val v = vecs(s, d)
      v.select(col("vec_id").as("id1"), col("f").as("f1"))
        .crossJoin(v.select(col("vec_id").as("id2"), col("f").as("f2")))
        .filter(col("id1") =!= col("id2"))
        .select(col("id1"), col("id2"), round(sqrt(ArrayMath.sqDistNative(col("f1"), col("f2"))), 6).as("dist"))
        .withColumn("rank", row_number().over(Window.partitionBy("id1").orderBy(col("dist"), col("id2"))))
        .filter(col("rank") <= 5)
        .select(col("id1"), col("rank"), col("id2"), col("dist"))
        .orderBy("id1", "rank")
    }),
    "embedding_norm_stats" -> ((s, d) =>
      vecs(s, d).groupBy("label")
        .agg(count(lit(1)).as("n"), round(avg("nrm"), 6).as("mean_norm"),
          round(min("nrm"), 6).as("min_norm"), round(max("nrm"), 6).as("max_norm"))
        .orderBy("label")),
    "embedding_dim_stats" -> ((s, d) =>
      exploded(s, d).groupBy(col("i").as("dim"))
        .agg(round(avg("x"), 6).as("mean_x"), round(stddev_samp("x"), 6).as("sd_x"),
          round(min("x"), 6).as("min_x"), round(max("x"), 6).as("max_x"))
        .orderBy("dim")),
    "embedding_centroid_shift" -> ((s, d) =>
      exploded(s, d).select(col("label"), col("i").as("dim"), (col("vec_id") % 2).as("m"), col("x"))
        .groupBy("label", "dim")
        .agg(sum(when(col("m") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("m") === 1, 1L).otherwise(0L)).as("n_b"),
          round(avg(when(col("m") === 0, col("x"))) - avg(when(col("m") === 1, col("x"))), 6).as("shift"))
        .orderBy("label", "dim")),
    "embedding_quantize" -> ((s, d) =>
      vecs(s, d).select(col("vec_id"), col("f"))
        .withColumn("scale", expr("abs_max(f)"))
        .withColumn("sc", when(col("scale") === 0.0, lit(1.0)).otherwise(col("scale")))
        .withColumn("sse", expr("quant_sse(f, sc)"))
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          round(col("sse") / size(col("f")), 6).as("mse"))
        .orderBy("vec_id")),
    "embedding_project" -> ((s, d) => {
      val e = exploded(s, d)
      val proj = e.select("i").distinct()
        .crossJoin(s.range(1, 9).toDF("j"))
        .withColumn("__h", md5(concat(lit("rp"), col("i"), lit("_"), col("j")).cast("binary")))
        .withColumn("sgn", when(expr(graft.engine.text.TextOps.foldDigitsSql("__h", 8)) % 2 === 0, lit(1.0))
          .otherwise(lit(-1.0)))
        .select("i", "j", "sgn")
      e.join(broadcast(proj), "i")
        .groupBy("vec_id", "j")
        .agg(round(sum(col("x") * col("sgn")) / math.sqrt(8), 6).as("comp"))
        .orderBy("vec_id", "j")
    }),
    "label_centroid_topk" -> ((s, d) => {
      val e = exploded(s, d)
      val c = e.groupBy("label", "i").agg(avg("x").as("mu"))
      e.join(broadcast(c), Seq("label", "i"))
        .groupBy("vec_id", "label")
        .agg(sum((col("x") - col("mu")) * (col("x") - col("mu"))).as("d2"))
        .withColumn("rn", row_number().over(Window.partitionBy("label").orderBy(round(col("d2"), 6), col("vec_id"))))
        .filter(col("rn") <= 5)
        .select(col("label"), col("vec_id"), round(col("d2"), 6).as("d2"), col("rn"))
        .orderBy("label", "rn")
    }),
    "incremental_ann_upsert" -> ((s, d) => {
      val e = exploded(s, d).withColumn("xi", floor(col("x") * lit(1e6)).cast("long"))
      val cent = e.filter(col("vec_id") % 10 =!= 7)
        .groupBy("label", "i").agg(sum("xi").as("sm"), count(lit(1)).as("n"))
        .select(col("label").as("cell"), col("i"), col("sm"), col("n"))
      val t = (col("xi") * col("n") - col("sm")).cast("decimal(19,0)")
      e.filter(col("vec_id") % 10 === 7)
        .join(broadcast(cent), "i")
        .groupBy("vec_id", "cell")
        .agg(sum(t * t).as("d2s"), max("n").as("n"))
        .select(col("vec_id"), struct(
          (col("d2s").cast("double") / (col("n") * col("n")).cast("double") / lit(1e12)).as("dv"),
          col("cell").as("cell")).as("sc"))
        .groupBy("vec_id").agg(min("sc").as("m"))
        .select(col("m.cell").as("cell"), floor(col("m.dv") * lit(1e6)).cast("long").as("d2_ppm"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_new"), sum("d2_ppm").as("sum_d2_ppm"))
        .orderBy("cell")
    }),
    "embedding_standardize" -> ((s, d) => {
      val e = exploded(s, d).select(col("vec_id"), col("i").as("dim"), col("x"))
      val stats = e.groupBy("dim").agg(avg("x").as("mu"), stddev_samp("x").as("sd"))
      e.filter(col("vec_id") < 100)
        .join(broadcast(stats), "dim")
        .select(col("vec_id"), col("dim"),
          round(when(col("sd") > 0, (col("x") - col("mu")) / col("sd")), 6).as("z"))
        .orderBy("vec_id", "dim")
    }),
    "embedding_cosine_dedup" -> ((s, d) =>
      cosPairs(s, d).filter(col("cos") >= 0.3).orderBy("id1", "id2")),
    "ann_lsh_topk" -> ((s, d) => raw.answer(s, d, "ann_lsh_topk")),
    "ann_ivf_topk" -> ((s, d) => raw.answer(s, d, "ann_ivf_topk")),
    "semdedup_embedding" -> ((s, d) => {
      val assigned = cellRanked(s, d).filter(col("rn") === 1).select("vec_id", "cell")
      val cand = assigned.select(col("cell"), col("vec_id").as("id1"))
        .join(assigned.select(col("cell"), col("vec_id").as("id2")), "cell")
        .filter(col("id1") < col("id2"))
      val dup = scorePairs(s, d, cand).filter(col("cos") >= 0.3)
      val dropped = dup.select("cell", "id2").distinct()
      assigned.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
        .join(dup.groupBy("cell").agg(count(lit(1)).as("n_dup_pairs")), Seq("cell"), "left")
        .join(dropped.groupBy("cell").agg(count(lit(1)).as("n_dropped")), Seq("cell"), "left")
        .select(col("cell"), col("n_vecs"),
          coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
        .orderBy("cell")
    }),
    "ann_filtered_topk" -> ((s, d) =>
      scoreBest(s, d, probeAssigned(s, d, 2, sampled = true).filter(col("l1") === col("l2"))
        .select("id1", "id2")).orderBy("id1")),
    "ivf_cell_balance" -> ((s, d) =>
      cellRanked(s, d).filter(col("rn") === 1)
        .groupBy("cell").agg(count(lit(1)).as("sz"))
        .agg(sum("sz").as("n_vecs"), count(lit(1)).as("n_cells"),
          min("sz").as("min_sz"), max("sz").as("max_sz"),
          sum(col("sz") * col("sz")).as("cost_pairs"))
        .select(col("n_vecs"), col("n_cells"), col("min_sz"), col("max_sz"),
          expr("max_sz * n_cells * 1000000 div n_vecs").as("imbalance_ppm"),
          col("cost_pairs"))),
  ) ++ AnnGradingReference.queriesOver(raw)

  /** Each declared similarity query on `d` whose output differs from
    * its reference in a column name or a cell (doubles by their bits),
    * shown with both tables, plus any declared query the reference
    * does not cover. */
  def mismatches(s: SparkSession, d: String): Seq[String] = {
    val uncovered = Similarity.queries.keySet -- queries.map(_._1)
    uncovered.toSeq.map(q => s"$q: no reference") ++ queries.flatMap { case (q, reference) =>
      val (got, want) = (AnnGradingReference.table(SparkEntry.queries(q)(s, d)),
        AnnGradingReference.table(reference(s, d)))
      if (got == want) None else Some(s"$q:\n$got\nreference:\n$want")
    }
  }
}
