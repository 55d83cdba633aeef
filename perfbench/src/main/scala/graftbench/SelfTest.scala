package graftbench

/** Self-test of the input generators, no Spark session: one seed must give
  * byte-identical inputs on every generation, and another seed different
  * ones. Prints one line per generator and exits non-zero on a failure.
  */
object SelfTest {
  val Generators: Seq[(String, Long => Iterable[org.apache.spark.sql.Row])] = Seq(
    "etl_records.records" -> (s => EtlRecords.records(s)),
    "dedup_corpus.documents" -> (s => DedupCorpus.documents(s)._1),
    "dedup_corpus.embeddings" -> (s => DedupCorpus.embeddings(s)),
    "dedup_corpus.queries" -> (s => DedupCorpus.queries(s, 0, DedupCorpus.embeddings(s),
      DedupCorpus.Queries).map { case (id, q) => org.apache.spark.sql.Row(id, q) }),
    "table_ingest.initial" -> (s => TableIngest.initialRows(s)),
    "table_reads.lineitem" -> (s => Inputs.lineBatches(s, TableReads.Batches,
      TableReads.RowsPerBatch).flatten))

  def main(args: Array[String]): Unit = {
    val seed = args.headOption.map(_.toLong).getOrElse(7L)
    val bad = Generators.filterNot { case (name, gen) =>
      val a = Inputs.fingerprint(gen(seed))
      val again = Inputs.fingerprint(gen(seed))
      val other = Inputs.fingerprint(gen(seed + 1))
      val ok = a == again && a != other
      println(s"${if (ok) "ok" else "FAIL"} $name seed=$seed sha256=$a")
      ok
    }
    if (bad.nonEmpty) sys.exit(1)
  }
}
