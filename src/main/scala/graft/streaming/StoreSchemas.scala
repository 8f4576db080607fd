package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types._

/** Declared read schemas for every parquet layout the grown stores
  * write, plus driver-side parquet-footer probes.
  *
  * Why (optimization guide §1/§5 — job count and the driver): every
  * bare `spark.read.parquet(...)` runs a schema-inference JOB (one
  * task reading a footer) before the real work. The store lifecycle
  * rows (ingest → consolidate → tombstone → maintain → serve) issued
  * 10-15 such reads per run — each a ~50-100 ms job plus a driver gap
  * at gate scale, and a real scheduled job against a many-file forest
  * at corpus scale. Every one of these layouts is written by THIS
  * module with a structurally fixed schema, so the reads declare it
  * and skip inference.
  *
  * The one thing inference also provided — failing loudly on a
  * pre-r16 forest that lacks the `src_gen` row column — is preserved
  * by [[footerHasField]]: a driver-side read of one data file's
  * footer (no Spark job, microseconds on a local FS).
  *
  * Partition columns are declared in the read schema (Spark casts the
  * directory values), so the old post-read `.cast("long")` calls stay
  * no-ops rather than behavior.
  */
object StoreSchemas {

  /** Hot postings store batches (`store/postings/batch_id=N`), as
    * [[PostingsIngest.ingestBatch]] writes them (+ the partition col). */
  val postingsBatch: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("tok", StringType),
    StructField("tf", LongType), StructField("dl", LongType),
    StructField("batch_id", LongType)))

  /** Hot stats store batches (`store/stats/batch_id=N`). */
  val statsBatch: StructType = StructType(Seq(
    StructField("n", LongType), StructField("sumdl", LongType),
    StructField("batch_id", LongType)))

  /** Consolidated postings forest (`index/postings/gen=G/pb=P`):
    * data columns + `src_gen` row identity + both partition columns. */
  val postingsForest: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("tok", StringType),
    StructField("tf", LongType), StructField("dl", LongType),
    StructField("src_gen", LongType), StructField("gen", LongType),
    StructField("pb", IntegerType)))

  /** Flat one-shot postings layout (`index/postings/pb=P`,
    * [[graft.operators.IndexStore.buildPostingsIndex]]) — no src_gen,
    * no gen. */
  val postingsFlat: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("tok", StringType),
    StructField("tf", LongType), StructField("dl", LongType),
    StructField("pb", IntegerType)))

  /** Per-src-gen stats sidecar rows (`index/stats[-vN]/gen=G`). */
  val sidecarStats: StructType = StructType(Seq(
    StructField("n", LongType), StructField("sumdl", LongType),
    StructField("purged_through", LongType), StructField("gen", LongType)))

  /** Per-src-gen dict sidecar rows (`index/dict[-vN]/gen=G`). */
  val sidecarDict: StructType = StructType(Seq(
    StructField("tok", StringType), StructField("df", LongType),
    StructField("purged_through", LongType), StructField("gen", LongType)))

  /** Flat one-shot stats (`index/stats`, single row). */
  val flatStats: StructType = StructType(Seq(
    StructField("n", LongType), StructField("sumdl", LongType),
    StructField("pb_mod", IntegerType)))

  /** Flat one-shot dict (`index/dict`). */
  val flatDict: StructType = StructType(Seq(
    StructField("tok", StringType), StructField("df", LongType)))

  /** Postings-store tombstone tail batches
    * (`index/tombstones/batch_id=N` + the partition col). */
  val tombTail: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("dl", LongType),
    StructField("gen", LongType), StructField("batch_id", LongType)))

  /** Row-mode tombstone snapshot (`tombstones_snapshot/v=N` —
    * batch_id materialized as a data column by foldRows). */
  val tombSnapshot: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("dl", LongType),
    StructField("gen", LongType), StructField("batch_id", LongType)))

  /** Hot vector store batches (`store/vecs/batch_id=N`,
    * [[AnnIngest.ingestBatch]]). */
  val vecsBatch: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("batch_id", LongType)))

  /** IVFADC codes forest (`index/index/gen=G/cell=C`). */
  val codesForest: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("codes", ArrayType(IntegerType)),
    StructField("src_gen", LongType), StructField("gen", LongType),
    StructField("cell", LongType)))

  /** Frozen coarse quantizer (`index/quantizer/centroids`). */
  val quantCentroids: StructType = StructType(Seq(
    StructField("cell", LongType),
    StructField("centroid", ArrayType(FloatType))))

  /** Frozen PQ codebooks (`index/quantizer/codebooks`). */
  val quantCodebooks: StructType = StructType(Seq(
    StructField("sub_j", IntegerType), StructField("cell", IntegerType),
    StructField("codeword", ArrayType(FloatType))))

  /** Hot band store batches (`store/bands/batch_id=N`,
    * [[DedupIngest.ingestBatch]]). */
  val bandsBatch: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("band", IntegerType),
    StructField("bh", LongType), StructField("batch_id", LongType)))

  /** Hot LSH bucket store batches (`store/buckets/batch_id=N`,
    * [[VecIngest.ingestBatch]]). */
  val bucketsBatch: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("tbl", IntegerType),
    StructField("bucket", IntegerType), StructField("batch_id", LongType)))

  /** Consolidated LSH bucket forest (`index/buckets/gen=G/pb=P`). */
  val bucketsForest: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("tbl", IntegerType),
    StructField("bucket", IntegerType), StructField("gen", LongType),
    StructField("pb", IntegerType)))

  /** Consolidated band forest (`index/bands/gen=G/pbh=P`). */
  val bandsForest: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("band", IntegerType),
    StructField("bh", LongType), StructField("gen", LongType),
    StructField("pbh", IntegerType)))

  /** First data file under `dir` (recursive, skipping bookkeeping),
    * or None. */
  private def firstDataFile(fs: FileSystem, dir: Path): Option[Path] =
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).iterator.filterNot { s =>
      val n = s.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }.flatMap { s =>
      if (s.isDirectory) firstDataFile(fs, s.getPath) else Some(s.getPath)
    }.nextOption()

  /** Whether the first data file under `dir` carries `field` — the
    * driver-side, no-job replacement for inferring a schema just to
    * check one column's presence (the layout is uniform under a dir:
    * one writer, one schema). None when the dir holds no data files. */
  def footerHasField(fs: FileSystem, conf: Configuration, dir: Path,
      field: String): Option[Boolean] =
    firstDataFile(fs, dir).map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getFileMetaData.getSchema.containsField(field)
      finally r.close()
    }

  /** Exact row count of every data file under `dir` (recursive), read
    * from parquet footers on the driver — no Spark job. Bit-equal to
    * `spark.read.parquet(dir).count()` (the footer's block row counts
    * are definitional, not statistics). */
  def footerRowCount(fs: FileSystem, conf: Configuration, dir: Path): Long = {
    def walk(d: Path): Long =
      fs.listStatus(d).iterator.filterNot { s =>
        val n = s.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }.map { s =>
        if (s.isDirectory) walk(s.getPath)
        else {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(s.getPath, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        }
      }.sum
    if (!fs.exists(dir)) 0L else walk(dir)
  }
}
