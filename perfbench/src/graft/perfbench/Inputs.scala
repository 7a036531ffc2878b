package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.SourceFile
import graft.util.SynthCorpus

/** Corpus size and check sample. `full` is what the benchmark measures;
  * `fixture` is the smoke-test scale. Batch sizes belong to the workloads
  * and are the same at both scales, so the path assertions (TAAT and
  * shuffle-hash finish at k=1000, DAAT for RM3) hold at both.
  */
final case class Scale(nRepos: Int, sampleQueries: Int) {
  val filesPerRepo = 100
  def nDocs: Int = nRepos * filesPerRepo
}

object Scale {
  val full: Scale = Scale(nRepos = 80, sampleQueries = 4)
  val fixture: Scale = Scale(nRepos = 6, sampleQueries = 4)
}

/** The seeded inputs of one run: a corpus of `SynthCorpus.docOf` rows over
  * a repo range chosen by the seed, and query batches sampled from it. The
  * engine only ever sees the generated rows.
  */
final class Inputs(seed: Long, scale: Scale) {
  private def h(i: Long): Long = SynthCorpus.mix(seed * 0x632BE59BD9B4E019L + i)

  /** First repo of the corpus range: six-digit repo numbers for every
    * seed, so doc ids and df=1 tokens have the same length whatever the
    * seed.
    */
  val repo0: Int = 100000 + math.floorMod(h(-1L), 800000L).toInt

  def doc(i: Int): SourceFile =
    SynthCorpus.docOf(repo0 + i / scale.filesPerRepo, i % scale.filesPerRepo)

  /** The corpus as the (docId, content) frame the index builds from,
    * generated from rows in the input schema (repo, path, commit, lang,
    * content). It is not staged to parquet first: the staging job would
    * add a cold Spark job to every run's set-up.
    */
  def corpus(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val r0 = repo0; val fpr = scale.filesPerRepo
    spark.range(0, scale.nDocs, 1, spark.sparkContext.defaultParallelism * 2)
      .as[Long]
      .map(i => SynthCorpus.docOf(r0 + (i / fpr).toInt, (i % fpr).toInt))
      .selectExpr("concat(repo, ':', path, '@', commit) as docId", "content")
  }

  /** `n` queries in a fixed pattern of shapes, so every seed gives a
    * batch of the same make-up: every fifth query is one of the fixed
    * shapes of `SynthCorpus.queries` (all stopwords, all OOV, duplicate
    * terms, stemming probes), taken in turn from a seeded offset; the rest
    * are 2-5 tokens drawn from a seeded corpus document, which mixes the
    * corpus's high-df keywords and stopwords, mid-df terms, low-df ids and
    * df=1 tokens.
    */
  def queries(tag: String, n: Int): Seq[(String, String)] = {
    val fixed = SynthCorpus.queries.map(_._2)
    val offset = math.floorMod(h(tag.hashCode.toLong), fixed.size.toLong).toInt
    (0 until n).map { i =>
      val x = h(tag.hashCode.toLong << 32 | i)
      val text =
        if (i % 5 == 0) fixed((offset + i / 5) % fixed.size)
        else {
          val toks = doc(math.floorMod(x, scale.nDocs.toLong).toInt).content.split("\\s+")
          (0 until 2 + i % 4).map(j =>
            toks(math.floorMod(SynthCorpus.mix(x + j), toks.length.toLong).toInt))
            .mkString(" ")
        }
      (f"$tag$i%05d", text)
    }
  }

  /** A seeded sample of `m` qids out of `qs`, for the output check. */
  def sample(qs: Seq[(String, String)], m: Int): Seq[String] =
    qs.indices.sortBy(i => h(1L << 40 | i)).take(m).map(qs(_)._1).sorted
}
