package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Throwaway-style stage triage for Corpus.dsirWeights (kept as a
  * profiling main like ProfileMaint): times each candidate
  * stage of the DSIR plan in isolation to locate the hot one. */
object ProfileDsir {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
    val docs = Tables.load(spark, sfDir, "documents")

    def time(name: String)(f: => Long): Unit = {
      f // warm: codegen + JIT
      val t0 = System.nanoTime()
      val n = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }
    time("md5conv bucket uni+bi") {
      val t = col("t")
      val bigrams = zip_with(slice(t, lit(1), greatest(size(t) - 1, lit(0))),
        slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))
      docs.select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), explode(concat(t, bigrams)).as("feat"))
        .select(col("doc_id"),
          (conv(substring(md5(col("feat")), 1, 13), 16, 10)
            .cast("long") % 1024).as("bucket"))
        .groupBy("doc_id", "bucket").count().count()
    }
    time("xxhash bucket uni+bi") {
      val t = col("t")
      val bigrams = zip_with(slice(t, lit(1), greatest(size(t) - 1, lit(0))),
        slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))
      docs.select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), explode(concat(t, bigrams)).as("feat"))
        .select(col("doc_id"), pmod(xxhash64(col("feat")), lit(1024)).as("bucket"))
        .groupBy("doc_id", "bucket").count().count()
    }
    time("explode only uni+bi") {
      val t = col("t")
      val bigrams = zip_with(slice(t, lit(1), greatest(size(t) - 1, lit(0))),
        slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))
      docs.select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), explode(concat(t, bigrams)).as("feat"))
        .count()
    }

    val toks = split(col("text"), " ")
    time("tokens only") {
      docs.select(explode(toks).as("feat")).count()
    }
    time("bigrams transform") {
      docs.select(explode(when(size(toks) >= 2,
        transform(sequence(lit(0), size(toks) - 2),
          i => concat(element_at(toks, i + 1), lit(" "),
            element_at(toks, i + 2))))
        .otherwise(array().cast("array<string>"))).as("feat")).count()
    }
    time("bigrams via toks column") {
      docs.select(toks.as("t"))
        .select(explode(when(size(col("t")) >= 2,
          transform(sequence(lit(0), size(col("t")) - 2),
            i => concat(element_at(col("t"), i + 1), lit(" "),
              element_at(col("t"), i + 2))))
          .otherwise(array().cast("array<string>"))).as("feat")).count()
    }
    time("md5 bucket over unigrams") {
      docs.select(explode(toks).as("feat"))
        .select((conv(substring(md5(col("feat")), 1, 13), 16, 10)
          .cast("long") % 1024).as("b")).groupBy("b").count().count()
    }
    time("full dsir") {
      operators.Corpus.dsirWeights(docs, col("lang") === "en", 1024).count()
    }
    // span-dedup stage triage
    val n = 4
    val base = docs.select(col("doc_id").cast("long").as("doc_id"),
      split(col("text"), " ").as("toks"))
    val grams = base.where(size(col("toks")) >= n)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("toks")) - n),
          i => array_join(slice(col("toks"), i + 1, lit(n)), " "))))
      .select(col("doc_id"), col("pos").as("i"), col("col").as("gram"))
    time("span: grams") { grams.count() }
    val dupKeeper = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("i"))).as("fo"))
      .where(col("n_occ") >= 2)
      .select(col("gram"), col("fo"))
    time("span: dupKeeper") { dupKeeper.count() }
    val removed = grams.join(dupKeeper, "gram")
      .where(!(col("doc_id") === col("fo")("doc_id") &&
        col("i") === col("fo")("i")))
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (n - 1))).as("pos"))
      .distinct()
    time("span: removed") { removed.count() }
    val tokRel = base.select(col("doc_id"),
      posexplode(col("toks")).as(Seq("pos", "tok")))
    val kept = tokRel.join(removed, Seq("doc_id", "pos"), "left_anti")
    time("span: kept") { kept.count() }
    time("span: full") {
      operators.Dedup.crossDocSpanDedup(docs, n).count()
    }
    // planted-corpus span triage (the DedupScaleBench shape):
    // SPARK_GRAFT_PROFILE_SPAN=200000 to enable
    sys.env.get("SPARK_GRAFT_PROFILE_SPAN").map(_.toInt).foreach { nd =>
      val pd = SynthData.plantedDocs(spark, nd, 50000)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      pd.count()
      val sn = 8
      val pbase = pd.select(col("doc_id").cast("long").as("doc_id"),
        split(col("text"), " ").as("toks"))
      val pgrams = pbase.where(size(col("toks")) >= sn)
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), size(col("toks")) - sn),
            i => array_join(slice(col("toks"), i + 1, lit(sn)), " "))))
        .select(col("doc_id"), col("pos").as("i"), col("col").as("gram"))
      time("pspan: grams") { pgrams.count() }
      val poccs = pgrams.groupBy(col("gram"))
        .agg(collect_list(struct(col("doc_id"), col("i"))).as("occs"))
        .where(size(col("occs")) >= 2)
      time("pspan: occs>=2") { poccs.count() }
      val premoved = poccs
        .select(col("occs"), array_min(col("occs")).as("k"))
        .select(explode(filter(col("occs"),
          o => !(o("doc_id") === col("k")("doc_id") &&
            o("i") === col("k")("i")))).as("o"))
        .select(col("o")("doc_id").as("doc_id"),
          explode(sequence(col("o")("i"), col("o")("i") + (sn - 1)))
            .as("pos"))
      time("pspan: removed") { premoved.count() }
      val prm = premoved.groupBy(col("doc_id"))
        .agg(collect_set(col("pos")).as("rm"))
      time("pspan: rmByDoc") { prm.count() }
      time("pspan: full") {
        operators.Dedup.crossDocSpanDedup(pd, sn).count()
      }
    }
    spark.stop()
  }
}
