package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.operators.{AsOf, Dedup, OrderedScan, Similarity}
import graft.functions.Text
import graft.sources.Bucketing

/** Short declared queries, dominated by fixed per-query cost (planning,
  * codegen, job scheduling). The query list is frozen in
  * `perfbench/tail_queries.txt`; the seed shuffles the order of each pass. */
final class TailQueries(inDir: String, seed: Long) extends Workload {
  val names: Seq[String] =
    Files.readAllLines(Paths.get("perfbench/tail_queries.txt"), StandardCharsets.UTF_8)
      .asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
  private var inputRows = 0L
  def inputSeed: Long = seed
  def tables: Seq[String] = Gen.tables
  def minPasses: Int = 2

  def pass(spark: SparkSession, passNo: Int): Seq[Op] =
    new scala.util.Random(seed * 7919L + passNo).shuffle(names).map { n =>
      Op(n, "query", () => SparkEntry.queries(n)(spark, inDir))
    }

  def check(spark: SparkSession, resDir: String): Seq[Map[String, Any]] = {
    inputRows = 0L
    names.map { n =>
      val df = SparkEntry.queries(n)(spark, inDir)
      inputRows += df.inputFiles.map(f => Paths.get(f).getParent.getFileName.toString)
        .distinct.map(d => Gen.rows.getOrElse(d.stripSuffix(".parquet"), 0L)).sum
      df.write.mode("overwrite").parquet(s"$resDir/$n")
      Map("name" -> n, "result" -> s"$resDir/$n", "oracle_sql" -> SparkEntry.oracleSql(n))
    }
  }

  def rowsPerPass: Long = inputRows
}

/** The stored-index maintenance cycle for the LSH, IVF and PQ families:
  * publish on ~80% of the corpus, append the rest, compact, lose the
  * catalog entries and recover them, then probe. The seed picks the
  * publish/append split (a residue mod 5), the LSH held-out slice (a
  * residue mod 7) and the IVF/PQ probe slice (five consecutive ids); the
  * corpus itself is fixed.
  * Parameters match the declared queries q319 (LSH), q277 (IVF) and q312
  * (PQ), whose DuckDB oracles are rewritten to the seeded slices. */
final class IndexMaintenance(inDir: String, seed: Long) extends Workload {
  private val rnd = new scala.util.Random(seed)
  val r5: Int = rnd.nextInt(5)
  val r7: Int = rnd.nextInt(7)
  val p0: Int = rnd.nextInt(1995)
  private var corpusRows = 0L
  // one fixed corpus: runs differ in what is published, appended and
  // probed, not in the corpus's size and shape, which move the op times
  // more than the split does
  def inputSeed: Long = 0L
  def tables: Seq[String] = Seq("documents", "embeddings")
  def minPasses: Int = 1

  private def docs(s: SparkSession) = Tables(s, inDir, "documents")
  private def emb(s: SparkSession) = Tables(s, inDir, "embeddings")
  private def probeVecs(s: SparkSession) =
    emb(s).where(col("vec_id") >= p0 && col("vec_id") < p0 + 5)

  // rows one pass reads: each family's corpus twice (publish + append,
  // then compact) plus its probe slice
  override def generate(spark: SparkSession): Unit = {
    val (nDocs, nEmb) = (docs(spark).count(), emb(spark).count())
    val lshCorpus = docs(spark).where(col("doc_id") % 7 =!= r7).count()
    corpusRows = 2 * (lshCorpus + 2 * nEmb) + (nDocs - lshCorpus) + 2 * 5
  }

  def rowsPerPass: Long = corpusRows

  /** Erase every catalog entry of an index, keeping its directories. */
  private def loseCatalog(s: SparkSession, table: String): Unit =
    s.catalog.listTables().collect().map(_.name).filter(_.startsWith(table + "_"))
      .foreach(t => Bucketing.simulateCatalogLoss(s, t))

  private def unit(f: => Unit): () => DataFrame = () => { f; null }

  def pass(s: SparkSession, passNo: Int): Seq[Op] = {
    val lsh = "pb_lsh"
    val corpus = docs(s).where(col("doc_id") % 7 =!= r7)
    val lshOps = Seq(
      Op("lsh.publish", "publish", unit(Dedup.publishLshIndex(
        corpus.where(col("doc_id") % 5 =!= r5), "doc_id", "text", lsh, corpusFp = "docs-a"))),
      Op("lsh.append", "append", unit(Dedup.appendLshIndex(
        corpus.where(col("doc_id") % 5 === r5), "doc_id", "text", lsh, newCorpusFp = "docs"))),
      Op("lsh.compact", "compact", unit(Dedup.compactLshIndex(s, lsh))),
      Op("lsh.recover", "recover", unit {
        loseCatalog(s, lsh); Dedup.recoverLshIndex(s, lsh, expectedCorpusFp = "docs")
      }),
      Op("lsh.probe", "probe", () => Dedup.probeLshIndex(s,
        docs(s).where(col("doc_id") % 7 === r7), "doc_id", "text", lsh, corpusFp = "docs")))
    val ivf = "pb_ivf"
    val ivfOps = Seq(
      Op("ivf.publish", "publish", unit(Similarity.publishIvfIndex(
        emb(s).where(col("vec_id") % 5 =!= r5), "vec_id", "embedding", ivf,
        trainRows = 128, corpusFp = "emb-a"))),
      Op("ivf.append", "append", unit(Similarity.appendIvfIndex(
        emb(s).where(col("vec_id") % 5 === r5), "vec_id", "embedding", ivf,
        newCorpusFp = "emb"))),
      Op("ivf.compact", "compact", unit(Similarity.compactIvfIndex(s, ivf))),
      Op("ivf.recover", "recover", unit {
        loseCatalog(s, ivf); Similarity.recoverIvfIndex(s, ivf, expectedCorpusFp = "emb")
      }),
      Op("ivf.probe", "probe", () => Similarity.probeIvfIndex(s, probeVecs(s),
        "vec_id", "embedding", ivf, k = 3, nprobe = 2, corpusFp = "emb")))
    val pq = "pb_pq"
    val pqOps = Seq(
      Op("pq.publish", "publish", unit(Similarity.publishPqIndex(
        emb(s).where(col("vec_id") % 5 =!= r5), "vec_id", "embedding", pq,
        nlist = 8, m = 8, codes = 16, rounds = 2, corpusFp = "emb-a"))),
      Op("pq.append", "append", unit(Similarity.appendPqIndex(
        emb(s).where(col("vec_id") % 5 === r5), "vec_id", "embedding", pq,
        newCorpusFp = "emb"))),
      Op("pq.compact", "compact", unit(Similarity.compactPqIndex(s, pq))),
      Op("pq.recover", "recover", unit {
        loseCatalog(s, pq); Similarity.recoverPqIndex(s, pq, expectedCorpusFp = "emb")
      }),
      Op("pq.probe", "probe", () => Similarity.probePqIndex(s, probeVecs(s),
        "vec_id", "embedding", pq, k = 3, nprobe = 2, corpusFp = "emb")))
    lshOps ++ ivfOps ++ pqOps
  }

  /** Rewrite a declared query's oracle to this run's slices; every pattern
    * must occur, so a drifted oracle fails loudly instead of comparing
    * against the wrong slice. */
  private def oracle(q: String, subs: (String, String)*): String =
    subs.foldLeft(SparkEntry.oracleSql(q)) { case (sql, (from, to)) =>
      require(sql.contains(from), s"oracle of $q no longer contains '$from'")
      sql.replace(from, to)
    }

  private lazy val oracles: Map[String, String] = {
    val probe = s"vec_id >= $p0 AND vec_id < ${p0 + 5}"
    Map(
      "lsh.probe" -> oracle("q319_lsh_index_recover",
        "a.doc_id % 7 = 0 AND b.doc_id % 7 != 0" -> s"a.doc_id % 7 = $r7 AND b.doc_id % 7 != $r7"),
      "ivf.probe" -> oracle("q277_ivf_index_compact",
        "vec_id % 5 != 0" -> s"vec_id % 5 != $r5", "vec_id < 5" -> probe),
      "pq.probe" -> oracle("q312_pq_index_compact",
        "vec_id % 5 != 0" -> s"vec_id % 5 != $r5", "vec_id < 5" -> probe))
  }

  /** One untimed maintenance cycle; probe outputs are written while the
    * index state that produced them is in place. */
  def check(s: SparkSession, resDir: String): Seq[Map[String, Any]] =
    pass(s, -1).flatMap { op =>
      Option(op.build()).map { df =>
        df.write.mode("overwrite").parquet(s"$resDir/${op.name}")
        Map("name" -> op.name, "result" -> s"$resDir/${op.name}",
          "oracle_sql" -> oracles(op.name))
      }
    }
}

/** Data-bound corpus kernels over the sf0.1 tables amplified `X` times
  * (replica-salted ids, replica-disjoint vocabularies, injected nulls), as
  * graft.ScaleDrill amplifies them; the amplified inputs are written to
  * parquet during set-up. Inputs come from one of `CorpusKernels.variants`
  * seed classes, each with a pinned expected output. */
final class CorpusKernels(inDir: String, ampDir: String, seed: Long) extends Workload {
  import CorpusKernels._
  private val v = variant(seed)
  def inputSeed: Long = v
  def tables: Seq[String] = Seq("documents", "events", "lineitem")
  def minPasses: Int = 2

  // the distributed (bucket-stitch) forms of the ordered kernels, as at
  // corpus scale; test-size inputs would otherwise take the small path
  override def conf: Map[String, String] = Map("spark.graft.globalWindow.maxBytes" -> "1")

  private def reps(s: SparkSession) = broadcast(s.range(X).select(col("id").as("__rep")))
  private def tag = concat(lit("~"), substring(md5(concat(lit(s"$v:"), col("__rep"))), 1, 6))

  override def generate(s: SparkSession): Unit = {
    Tables(s, inDir, "documents").crossJoin(reps(s))
      .select((col("doc_id") * X + col("__rep")).as("doc_id"),
        concat_ws(" ", transform(split(trim(col("text")), " "), w => concat(w, tag))).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$ampDir/docs")
    Tables(s, inDir, "events").crossJoin(reps(s))
      .select((col("event_id") * X + col("__rep")).as("event_id"), col("ts"),
        (col("user_id") + col("__rep") * lit(1000000000L)).as("user_id"),
        col("event_type"), col("value"))
      .write.mode("overwrite").parquet(s"$ampDir/ev")
    Tables(s, inDir, "lineitem").select(col("l_quantity"))
      .withColumn("__row", monotonically_increasing_id()).crossJoin(reps(s))
      .select((col("__row") * X + col("__rep")).as("k"),
        when((col("__row") + col("__rep") + v) % 7 === 0, lit(null).cast("double"))
          .otherwise(col("l_quantity")).as("v"))
      .write.mode("overwrite").parquet(s"$ampDir/li")
  }

  def rowsPerPass: Long = {
    val (docs, ev, li) = (5000L * X, 100000L * X, 600000L * X)
    2 * li + 4 * docs + ev
  }

  def pass(s: SparkSession, passNo: Int): Seq[Op] = {
    def docs = s.read.parquet(s"$ampDir/docs")
    def ev = s.read.parquet(s"$ampDir/ev")
    def li = s.read.parquet(s"$ampDir/li")
    Seq(
      Op("ordered_rank_str", "kernel", () => OrderedScan.rowNumber(
        li.select(md5(col("k").cast("string")).as("ks")), "ks", "__ord")),
      Op("ordered_fill", "kernel", () => OrderedScan.forwardFill(li, "k", Seq("v"))),
      Op("bigram_nll", "kernel", () => Text.bigramNll(docs, "doc_id", "text")),
      Op("bm25", "kernel", () => Text.bm25TopTerms(docs, "doc_id", "text", kTop = 5)),
      Op("containment_pairs", "kernel", () => Dedup.containmentNearDup(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, thresholdPpm = 500000L)),
      Op("decontamination", "kernel", () => Dedup.ngramContaminationLarge(
        docs.where(col("doc_id") % 7 =!= 0), docs.where(col("doc_id") % 7 === 0),
        "doc_id", "text", n = 3, minOverlap = 0.5)),
      Op("asof_join", "kernel", () => {
        val e = ev
        AsOf.join(
          e.where(col("event_id") % 3 =!= 0).select(col("user_id"), col("ts"), col("event_id")),
          "ts",
          e.where(col("event_id") % 3 === 0).select(col("user_id"), col("ts").as("dts"),
            col("value")),
          "dts", Seq("value"), partitionBy = Seq("user_id"))
      }))
  }

  def check(s: SparkSession, resDir: String): Seq[Map[String, Any]] =
    pass(s, -1).map { op =>
      val (rows, hash) = Main.contentHash(op.build())
      Map("name" -> op.name, "rows" -> rows, "hash" -> hash, "variant" -> v)
    }
}

object CorpusKernels {
  /** Amplification factor over sf0.1. */
  val X: Int = 2
  /** Seed classes with pinned outputs (`perfbench/pins.json`). */
  val variants: Int = 10
  def variant(seed: Long): Int = java.lang.Math.floorMod(seed, variants.toLong).toInt
}
