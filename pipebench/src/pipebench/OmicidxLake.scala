package pipebench

import graft.models.DomainSchemas
import graft.sources.SchemaEnforcement
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

/** Row counts of one generated omicidx lake. Every base row carries a date
  * in [start, start + days − 1]; every batch row carries day D = start + days. */
final case class LakeSize(days: Int, studies: Int, experiments: Int,
    runs: Int, samples: Int, gsm: Int, gse: Int, gpl: Int,
    ncbiBiosample: Int, bioproject: Int, ebi: Int, batchFrac: Double,
    filesPerEntity: Int) {
  private def b(n: Int) = math.max(1, math.round(n * batchFrac).toInt)
  /** Rows over all sources; the accession spine holds one per SRA entity. */
  def rows: Int = 2 * (studies + experiments + runs + samples) + gsm + gse +
    gpl + ncbiBiosample + bioproject + ebi
  def batch: LakeSize = copy(studies = b(studies),
    experiments = b(experiments), runs = b(runs), samples = b(samples),
    gsm = b(gsm), gse = b(gse), gpl = b(gpl),
    ncbiBiosample = b(ncbiBiosample), bioproject = b(bioproject),
    ebi = b(ebi), filesPerEntity = 1)
}

object LakeSize {
  val full = LakeSize(days = 24, studies = 60, experiments = 600,
    runs = 800, samples = 500, gsm = 600, gse = 60, gpl = 15,
    ncbiBiosample = 500, bioproject = 60, ebi = 500, batchFrac = 0.02,
    filesPerEntity = 2)
  val tiny = LakeSize(days = 6, studies = 4, experiments = 20, runs = 20,
    samples = 10, gsm = 12, gse = 4, gpl = 2, ncbiBiosample = 8,
    bioproject = 4, ebi = 8, batchFrac = 0.1, filesPerEntity = 2)
}

/** Seeded generator of an omicidx lake in the layouts
  * [[graft.models.OmicidxModels.lakeSources]] binds: SRA parquet under
  * `sra/`, GEO monthly `.ndjson.gz` under `geo/`, NCBI parquet under
  * `biosample/`, EBI parquet under `ebi_biosample/`. Pinned entities are
  * conformed to [[DomainSchemas]] before they are written, and the nested
  * fields the geometadb views flatten (GEO channels, contact names,
  * supplemental files, series/sample id lists) are populated.
  *
  * Every cell is a murmur3 hash of (row id, seed, column salt), so one
  * seed always yields the same lake. Row counts depend only on the size,
  * which gives the closed-form mart count [[sraMetadataRows]].
  */
final class OmicidxLake(spark: SparkSession, size: LakeSize, seed: Long) {
  val start: LocalDate = LocalDate.of(2020, 1, 1)
  /** The day the batch lands; the base lake ends the day before. */
  val dayD: LocalDate = start.plusDays(size.days)

  /** `sra_metadata` rows after a build over the base lake, and after the
    * batch: one per experiment (each has exactly one EXPERIMENT accession
    * row dated inside the window and references one existing study). */
  def sraMetadataRows(withBatch: Boolean): Long =
    size.experiments + (if (withBatch) size.batch.experiments else 0)

  private def h(salt: Int) = s"pmod(hash(id, ${seed}L, $salt), 2147483647)"
  private def pick(salt: Int, xs: String*) =
    s"element_at(array(${xs.map(x => s"'$x'").mkString(",")}), " +
      s"cast(pmod(hash(id, ${seed}L, $salt), ${xs.size}) AS INT) + 1)"
  private def acc(prefix: String, idExpr: String = "id") =
    s"concat('$prefix', lpad(cast($idExpr AS STRING), 8, '0'))"

  /** Day offset of a row: spread over the base span, or day D for a batch. */
  private def dayExpr(batch: Boolean) =
    if (batch) s"${size.days}" else s"pmod(hash(id, ${seed}L, 1), ${size.days})"
  private def dateExpr(batch: Boolean) =
    s"date_add(DATE '$start', ${dayExpr(batch)})"
  private def tsExpr(batch: Boolean, salt: Int) =
    s"timestamp_seconds(unix_timestamp(${dateExpr(batch)}) + pmod(hash(id, ${seed}L, $salt), 86400))"

  /** Row ids [from, from + n) in `files` partitions: one file each. */
  private def ids(from: Long, n: Int, files: Int): DataFrame =
    spark.range(from, from + n, 1, files).toDF("id")

  /** Writes the base lake under `root`. */
  def writeBase(root: String): Unit = {
    writeAll(root, size, idBase = 0L, batch = false)
    System.err.println(s"[pipebench] lake: ${Files2.du(Paths.get(root))._1} bytes, " +
      s"${size.rows} rows, dates $start..${dayD.minusDays(1)}")
  }

  /** Lands the day-D batch in a lake `writeBase` made: new files beside the
    * base ones (disjoint ids) and new part files in the accession spine. */
  def landBatch(root: String): Unit = {
    writeAll(root, size.batch, idBase = 10000000L, batch = true)
    System.err.println(s"[pipebench] batch: ${size.batch.rows} rows dated $dayD")
  }

  /** Writes every source of one lake or batch. The writes are independent,
    * so they run concurrently ([[Par]]). */
  private def writeAll(root: String, n: LakeSize, idBase: Long,
      batch: Boolean): Unit = {
    val writes = scala.collection.mutable.ArrayBuffer[() => Unit]()
    def parquet(df: DataFrame, path: String, append: Boolean = false): Unit =
      writes += (() => df.write.mode(if (append) "append" else "overwrite").parquet(path))
    val tag = if (batch) s"batch-$dayD" else "base"
    val studiesUniverse = size.studies // base studies are referenced by all
    val date = dateExpr(batch)

    def studyRef(salt: Int) = acc("SRP", s"pmod(hash(id, ${seed}L, $salt), $studiesUniverse)")
    def expRef(salt: Int) = acc("SRX", s"pmod(hash(id, ${seed}L, $salt), ${size.experiments})")
    def sampleRef(salt: Int) = acc("SRS", s"pmod(hash(id, ${seed}L, $salt), ${size.samples})")

    // ---- SRA detail entities, conformed to the pinned schemas ----
    val identifiers = s"array(named_struct('namespace', 'BioSample', 'id', ${acc("SAMN")}, 'uuid', cast(${h(21)} AS STRING)))"
    val attributes = s"array(named_struct('tag', 'tissue', 'value', ${pick(22, "liver", "brain", "blood", "lung")}), named_struct('tag', 'sex', 'value', ${pick(23, "male", "female")}))"
    val experiments = ids(idBase, n.experiments, n.filesPerEntity).selectExpr(
      s"${acc("SRX")} AS accession", s"${acc("SRX")} AS experiment_accession",
      s"concat('exp-', id) AS alias", s"concat('experiment ', id, ' ', ${pick(2, "RNA-Seq of", "WGS of", "ChIP-Seq of")}, ' sample') AS title",
      s"${studyRef(3)} AS study_accession", s"${sampleRef(4)} AS sample_accession",
      s"${pick(5, "ILLUMINA", "OXFORD_NANOPORE", "PACBIO_SMRT")} AS platform",
      s"${pick(6, "Illumina NovaSeq 6000", "MinION", "Sequel II")} AS instrument_model",
      s"${pick(7, "RNA-Seq", "WGS", "ChIP-Seq", "AMPLICON")} AS library_strategy",
      s"${pick(8, "TRANSCRIPTOMIC", "GENOMIC")} AS library_source",
      s"${pick(9, "PAIRED", "SINGLE")} AS library_layout",
      s"cast(50 + pmod(${h(10)}, 250) AS BIGINT) AS spot_length",
      s"$identifiers AS identifiers", s"$attributes AS attributes",
      "array(named_struct('base_coord', 1L, 'read_class', 'Application Read', 'read_index', 0L, 'read_type', 'Forward')) AS reads")
    parquet(SchemaEnforcement.normalize(experiments, DomainSchemas.sraExperiment),
      s"$root/sra/meta-experiment-$tag.parquet")

    val runs = ids(idBase, n.runs, n.filesPerEntity).selectExpr(
      s"${acc("SRR")} AS accession", s"${expRef(11)} AS experiment_accession",
      s"concat('run ', id) AS title",
      s"cast(pmod(${h(12)}, 1000000) AS BIGINT) AS total_spots",
      s"cast(pmod(${h(13)}, 100000000) AS BIGINT) AS total_bases",
      s"cast(pmod(${h(14)}, 5000000) AS BIGINT) AS size",
      s"cast(pmod(${h(15)}, 300) AS DOUBLE) AS avg_length",
      s"$identifiers AS identifiers", s"$attributes AS attributes",
      "array(named_struct('base', 'A', 'count', 10L), named_struct('base', 'C', 'count', 12L)) AS base_counts")
    parquet(SchemaEnforcement.normalize(runs, DomainSchemas.sraRun),
      s"$root/sra/meta-run-$tag.parquet")

    val samples = ids(idBase, n.samples, n.filesPerEntity).selectExpr(
      s"${acc("SRS")} AS accession", s"concat('sample ', id) AS title",
      s"${pick(16, "Homo sapiens", "Mus musculus", "Danio rerio")} AS organism",
      s"cast(${pick(17, "9606", "10090", "7955")} AS INT) AS taxon_id",
      s"${acc("SAMN")} AS BioSample", s"$identifiers AS identifiers",
      s"$attributes AS attributes")
    parquet(SchemaEnforcement.normalize(samples, DomainSchemas.sraSample),
      s"$root/sra/meta-sample-$tag.parquet")

    val studies = ids(idBase, n.studies, n.filesPerEntity).selectExpr(
      s"${acc("SRP")} AS accession", s"${acc("SRP")} AS study_accession",
      s"concat('study ', id) AS title",
      s"concat('abstract of study ', id, ' on ', ${pick(18, "cancer", "development", "immunity", "metabolism")}) AS abstract",
      s"${pick(19, "Transcriptome Analysis", "Whole Genome Sequencing", "Other")} AS study_type",
      s"${acc("PRJNA")} AS BioProject", "array(cast(id AS STRING)) AS pubmed_ids")
    parquet(SchemaEnforcement.normalize(studies, DomainSchemas.sraStudy),
      s"$root/sra/meta-study-$tag.parquet")

    // ---- accession spine: one row per SRA entity, typed per DomainSchemas ----
    def spine(prefix: String, typ: String, count: Int, experiment: String) =
      ids(idBase, count, n.filesPerEntity).selectExpr(s"${acc(prefix)} AS Accession",
        s"concat('SUB', id) AS Submission", "'live' AS Status",
        s"${tsExpr(batch, 30)} AS Updated", s"${tsExpr(batch, 31)} AS Published",
        s"${tsExpr(batch, 32)} AS Received", s"'$typ' AS Type",
        s"${pick(33, "GEO", "BGI", "SC")} AS Center", "'public' AS Visibility",
        s"concat('alias-', id) AS Alias", s"$experiment AS Experiment",
        s"${sampleRef(4)} AS Sample", s"${studyRef(3)} AS Study",
        s"${acc("SAMN")} AS BioSample", s"${acc("PRJNA", s"pmod(hash(id, ${seed}L, 3), $studiesUniverse)")} AS BioProject")
    val spineAll = Seq(
      spine("SRX", "EXPERIMENT", n.experiments, acc("SRX")),
      spine("SRR", "RUN", n.runs, expRef(11)),
      spine("SRS", "SAMPLE", n.samples, expRef(34)),
      spine("SRP", "STUDY", n.studies, "CAST(NULL AS STRING)"))
      .reduce(_ unionByName _)
    // one directory-dataset; the batch adds part files to it when it lands
    parquet(SchemaEnforcement.normalize(spineAll, DomainSchemas.sraAccessions),
      s"$root/sra/sra_accessions.parquet", append = batch)

    // ---- GEO: monthly gzip NDJSON, nested fields populated ----
    val contact = "named_struct('name', named_struct('first', " +
      s"${pick(40, "Ada", "Grace", "Alan", "Barbara")}, 'last', ${pick(41, "Lovelace", "Hopper", "Turing", "Liskov")}), " +
      s"'country', ${pick(42, "USA", "UK", "Japan")}, 'email', concat('lab', id, '@example.org'), " +
      s"'institute', ${pick(43, "NIH", "EMBL", "RIKEN")})"
    val supp = s"CASE WHEN pmod(${h(44)}, 5) = 0 THEN array('NONE') ELSE " +
      s"array(concat('ftp://ftp.ncbi.nlm.nih.gov/geo/suppl/', id, '_raw.tar'), concat('ftp://ftp.ncbi.nlm.nih.gov/geo/suppl/', id, '_counts.txt.gz')) END"
    val gsm = ids(idBase, n.gsm, n.filesPerEntity).selectExpr(
      s"${acc("GSM")} AS accession", s"concat('GEO sample ', id) AS title",
      "'Public' AS status", s"$date AS submission_date", s"$date AS last_update_date",
      "'SRA' AS type",
      s"array(named_struct('source_name', ${pick(45, "liver", "brain", "PBMC")}, " +
        s"'organism', ${pick(16, "Homo sapiens", "Mus musculus")}, " +
        s"'characteristics', array(named_struct('tag', 'tissue', 'value', ${pick(22, "liver", "brain")}), named_struct('tag', 'age', 'value', cast(pmod(${h(46)}, 90) AS STRING))), " +
        s"'molecule', 'total RNA', 'label', 'none', 'treatment_protocol', 'untreated', 'extract_protocol', 'TRIzol', 'label_protocol', 'none'), " +
        s"named_struct('source_name', 'reference', 'organism', 'Homo sapiens', 'characteristics', array(named_struct('tag', 'ref', 'value', 'yes')), " +
        s"'molecule', 'genomic DNA', 'label', 'Cy3', 'treatment_protocol', 'none', 'extract_protocol', 'none', 'label_protocol', 'none')) AS channels",
      "2 AS channel_count", s"${acc("GPL", s"pmod(hash(id, ${seed}L, 47), ${size.gpl})")} AS platform_id",
      s"cast(pmod(${h(48)}, 50000) AS INT) AS data_row_count",
      "'normalized counts' AS data_processing", s"concat('description ', id) AS description",
      s"$contact AS contact", s"$supp AS supplemental_files", "'scanned' AS hyb_protocol")
    val gse = ids(idBase, n.gse, n.filesPerEntity).selectExpr(
      s"${acc("GSE")} AS accession", s"concat('GEO series ', id) AS title",
      "'Public' AS status", s"$date AS submission_date", s"$date AS last_update_date",
      s"concat('summary of series ', id) AS summary", "array(id + 1000) AS pubmed_id",
      "'Expression profiling by high throughput sequencing' AS type",
      "array('A. Author', 'B. Author') AS contributor",
      s"transform(sequence(0, pmod(${h(49)}, 6)), j -> ${acc("GSM", s"pmod(hash(id, ${seed}L, 50 + j), ${size.gsm})")}) AS sample_id",
      s"$supp AS supplemental_files", s"$contact AS contact",
      "'two conditions' AS overall_design", "'normalized' AS data_processing")
    val gpl = ids(idBase, n.gpl, n.filesPerEntity).selectExpr(
      s"${acc("GPL")} AS accession", s"concat('GEO platform ', id) AS title",
      "'Public' AS status", s"$date AS submission_date", s"$date AS last_update_date",
      s"${pick(51, "high-throughput sequencing", "in situ oligonucleotide")} AS technology",
      "'commercial' AS distribution", "'Homo sapiens' AS organism",
      "array('Illumina') AS manufacturer", "'standard' AS manufacture_protocol",
      s"concat('platform ', id) AS description", "'platform summary' AS summary",
      s"cast(pmod(${h(52)}, 60000) AS INT) AS data_row_count",
      s"transform(sequence(0, pmod(${h(53)}, 4)), j -> ${acc("GSE", s"pmod(hash(id, ${seed}L, 60 + j), ${size.gse})")}) AS series_id",
      s"$contact AS contact")
    writes += (() => geoMonthly(Seq("gsm" -> gsm, "gse" -> gse, "gpl" -> gpl), s"$root/geo", tag))

    // ---- NCBI biosample / bioproject (unpinned: by-name union) ----
    val ncbi = ids(idBase, n.ncbiBiosample, n.filesPerEntity).selectExpr(
      "false AS is_reference", s"cast(${tsExpr(batch, 70)} AS STRING) AS submission_date",
      s"cast(${tsExpr(batch, 71)} AS STRING) AS last_update",
      s"cast(${tsExpr(batch, 72)} AS STRING) AS publication_date", "'public' AS access",
      "id", s"${acc("SAMN")} AS accession",
      "array(named_struct('db', 'BioSample', 'id', cast(id AS STRING))) AS id_recs",
      "array(cast(id AS STRING)) AS ids", s"${acc("SRS")} AS sra_sample",
      "CAST(NULL AS STRING) AS dbgap", s"${acc("GSM")} AS gsm",
      s"concat('biosample ', id) AS title", "'a sample' AS description",
      s"${pick(16, "Homo sapiens", "Mus musculus")} AS taxonomy_name",
      s"cast(${pick(17, "9606", "10090")} AS INT) AS taxon_id",
      s"array(named_struct('name', 'tissue', 'value', ${pick(22, "liver", "brain")})) AS attribute_recs",
      s"array(${pick(22, "tissue=liver", "tissue=brain")}) AS attributes", "'Generic' AS model")
    parquet(ncbi, s"$root/biosample/biosample-$tag.parquet")
    val bioproject = ids(idBase, n.bioproject, n.filesPerEntity).selectExpr(
      s"concat('project ', id) AS title", "'a project' AS description",
      s"concat('PRJ-', id) AS name", s"${acc("PRJNA")} AS accession",
      "array(cast(id AS STRING)) AS publications", "array('LT') AS locus_tags",
      s"cast(${tsExpr(batch, 73)} AS STRING) AS release_date",
      s"array(${pick(74, "genome", "transcriptome")}) AS data_types",
      "array('https://example.org') AS external_links")
    parquet(bioproject, s"$root/biosample/bioproject-$tag.parquet")

    // ---- EBI biosample, conformed to the pinned schema ----
    val ebi = ids(idBase, n.ebi, n.filesPerEntity).selectExpr(
      s"${acc("SAMEA")} AS accession", s"concat('ebi sample ', id) AS name",
      s"cast(${tsExpr(batch, 80)} AS STRING) AS `update`",
      s"cast(${tsExpr(batch, 81)} AS STRING) AS release",
      s"cast(${tsExpr(batch, 82)} AS STRING) AS `create`",
      s"cast(${pick(17, "9606", "10090")} AS BIGINT) AS taxId",
      s"array(named_struct('text', ${pick(22, "liver", "brain")}, 'ontologyTerms', array('UBERON_0002107'), 'unit', CAST(NULL AS STRING), 'characteristic', 'organism part')) AS characteristics",
      "array(named_struct('Name', 'EBI', 'Role', 'submitter', 'Address', 'Hinxton', 'URI', 'https://www.ebi.ac.uk', 'Email', 'x@ebi.ac.uk')) AS organization",
      s"named_struct('self', named_struct('href', concat('https://www.ebi.ac.uk/biosamples/', id)), 'curationLinks', named_struct('href', 'c'), 'samples', named_struct('href', 's'), 'curationLink', named_struct('href', 'l')) AS _links")
    parquet(SchemaEnforcement.normalize(ebi, DomainSchemas.ebiBiosample),
      s"$root/ebi_biosample/samples-$tag.parquet")
    Par.map(writes.toSeq)(_())
  }

  /** One `<prefix>-<yyyy-MM>-<tag>.ndjson.gz` file per entity and month of
    * `last_update_date` — the lake's GEO layout — from one collect. Fields
    * are matched by name when the pinned schema reads them back, so absent
    * ones surface as typed nulls. */
  private def geoMonthly(entities: Seq[(String, DataFrame)], dir: String,
      tag: String): Unit = {
    import org.apache.spark.sql.functions._
    val rows = entities.map { case (prefix, df) =>
      df.select(lit(prefix).as("p"),
        date_format(col("last_update_date"), "yyyy-MM").as("m"),
        to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("j"))
    }.reduce(_ union _).collect()
    Files.createDirectories(Paths.get(dir))
    rows.groupBy(r => (r.getString(0), r.getString(1))).foreach { case ((p, m), rs) =>
      val lines = rs.map(_.getString(2)).sorted
      val out = new java.util.zip.GZIPOutputStream(
        Files.newOutputStream(Paths.get(dir, s"$p-$m-$tag.ndjson.gz")))
      try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
    }
  }
}

/** Runs independent set-up and check jobs from a few driver threads, so
  * their fixed per-job costs overlap. Timed work never goes through it. */
object Par {
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
      def call(): B = f(x)
    })).map(_.get())
    finally pool.shutdown()
  }
}

object Files2 {
  /** Bytes and regular-file count under `p` (0 when absent). */
  def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var bytes, files = 0L
        s.filter(Files.isRegularFile(_)).forEach { f =>
          bytes += Files.size(f); files += 1
        }
        (bytes, files)
      } finally s.close()
    }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f))
    finally s.close()
  }

  /** Recursive copy that keeps modification times. */
  def copy(from: Path, to: Path): Unit = {
    import java.nio.file.StandardCopyOption.COPY_ATTRIBUTES
    val s = Files.walk(from)
    try s.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, COPY_ATTRIBUTES)
    } finally s.close()
  }
}
