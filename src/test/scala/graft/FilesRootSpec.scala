package graft

import java.io.File
import java.nio.file.Files

import graft.ops.FileOps
import graft.streaming.StreamOps

/** The file-fixture root (`spark.graft.files.root`) must be honored end
  * to end — the cluster-deployment requirement: on a real cluster the
  * root points at storage all nodes share (HDFS / object store), so the
  * driver-side marker probe, the executor-side per-doc writes, and
  * the binaryFile re-scan all hit the same filesystem. Verified here by
  * pointing the root at a fresh non-default directory and checking the
  * queries produce identical results from it. */
class FilesRootSpec extends SparkSpec {

  private def rows(name: String) = q(name).collect().map(_.toSeq).toSeq

  test("file/mm fixture queries honor an overridden spark.graft.files.root") {
    // every writer family: the per-doc text corpus, the png/wav/gif media
    // corpora, and Spark-committer egress (csv, json, orc)
    val queries = Seq("file_ingest", "mm_decode", "mm_audio_decode",
      "mm_video_decode", "orc_roundtrip")
    val atDefault = queries.map(n => n -> rows(n)).toMap
    // the streaming MERGE's staged orders split is a fixture input too
    def upsertRows() = StreamOps.upsertMergeRun(spark, sf)
      .orderBy("u_custkey").collect().map(_.toSeq).toSeq
    val upsertAtDefault = upsertRows()
    val root = Files.createTempDirectory("graft_root_override").toFile
    spark.conf.set("spark.graft.files.root", "file:" + root.getAbsolutePath)
    try {
      queries.foreach { n =>
        assert(rows(n) === atDefault(n), s"$n differs when materialized under an overridden root")
      }
      assert(upsertRows() === upsertAtDefault, "upsertMergeRun differs under an overridden root")
      // each corpus actually landed under the override (not the default
      // tmpdir), complete behind the materializeOnce marker
      def dirOf(kind: String): File =
        root.listFiles().find(_.getName.startsWith(s"graft_${kind}_"))
          .getOrElse(fail(s"no $kind dir under override root $root"))
      Seq("docfiles" -> ".txt", "imgfiles" -> ".png", "wavfiles" -> ".wav",
        "giffiles_ni" -> ".gif", "orc" -> ".orc",
        "orderslice_4" -> ".parquet").foreach { case (kind, ext) =>
        val files = dirOf(kind).listFiles()
        assert(files.exists(_.getName.endsWith(ext)), s"override root holds no $ext files for $kind")
        assert(files.exists(_.getName == FileOps.DoneMarker), s"$kind marker missing under override root")
      }
      // the csv/json egress caches follow the root too
      assert(q("csv_roundtrip").count() > 0)
      assert(q("json_roundtrip").count() > 0)
      assert(root.listFiles().exists(_.getName.startsWith("graft_csv_")),
        "csv egress not under override root")
      assert(root.listFiles().exists(_.getName.startsWith("graft_json_")),
        "json egress not under override root")
    } finally spark.conf.unset("spark.graft.files.root")
  }

  test("fixedwidth queries resolve their FileSystem through the session Hadoop conf") {
    // a files root on a scheme only the SESSION's Hadoop conf knows (as an
    // object store's credentials are known only there): every driver-side
    // lookup and every reader/writer task of the DSv2 connector must find
    // it. The FS cache is disabled for the scheme, so a lookup through a
    // bare `new Configuration()` cannot borrow a cached instance and
    // fails with "No FileSystem for scheme".
    val queries = Seq("fixedwidth_scan", "fixedwidth_roundtrip")
    val atDefault = queries.map(n => n -> rows(n)).toMap
    val root = Files.createTempDirectory("graft_root_sessionfs").toFile
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set(s"fs.${SessionOnlyFs.Scheme}.impl", classOf[SessionOnlyFs].getName)
    hc.setBoolean(s"fs.${SessionOnlyFs.Scheme}.impl.disable.cache", true)
    spark.conf.set("spark.graft.files.root", s"${SessionOnlyFs.Scheme}:${root.getAbsolutePath}")
    try {
      queries.foreach { n =>
        assert(rows(n) === atDefault(n), s"$n differs under a session-only FS root")
      }
      Seq("fixedwidth", "fixedwidth_dsv2").foreach { kind =>
        val dir = new File(root,
          new org.apache.hadoop.fs.Path(FileOps.cacheDir(spark, kind, sf)).getName)
        assert(new File(dir, FileOps.DoneMarker).exists,
          s"no complete $kind dir under the session-only FS root")
      }
    } finally {
      spark.conf.unset("spark.graft.files.root")
      hc.unset(s"fs.${SessionOnlyFs.Scheme}.impl")
      hc.unset(s"fs.${SessionOnlyFs.Scheme}.impl.disable.cache")
    }
  }
}

/** The local filesystem under its own URI scheme, registered only through
  * a session's Hadoop conf (`fs.<scheme>.impl`) — never on the JVM-wide
  * default configuration. */
class SessionOnlyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${SessionOnlyFs.Scheme}:///")
  override def getScheme: String = SessionOnlyFs.Scheme
}

object SessionOnlyFs {
  val Scheme = "graftsession"
}
