package graft.etl

/** YAML job-list loader: the declarative form of the reference's
  * hard-coded `[]TableJob` slice (`extractor.go:255-258`) plus its DSN
  * map (`extractor.go:233-236`) — one file declares the whole extract
  * run. Example:
  *
  * {{{
  * jobs:
  *   - table: big_table_1
  *     output: /out/db1/big_table_1
  *     primary_key: id
  *     url: jdbc:mysql://127.0.0.1:3307/db_1
  *     format: jdbc
  *     stride: 10000
  *     max_records_per_file: 100000
  *     schema_file: schema/db.yaml        # optional declared sink schema
  * }}}
  */
object JobsYaml {

  /** Rejects a malformed file with an IllegalArgumentException naming
    * the job index and key: an empty file, a missing required key, or a
    * non-positive `stride` / `max_records_per_file` (Spark would read a
    * file cap ≤ 0 as "no limit"). */
  def parse(yaml: String): Seq[TableJob] =
    YamlEntry.list(yaml, "jobs", "job").map { j =>
      def positive(k: String, default: Long): Long = j.opt(k).fold(default) { v =>
        v.toLongOption.filter(_ > 0)
          .getOrElse(throw j.bad(s"'$k' must be a positive integer, got '$v'"))
      }
      TableJob(
        tableName = j.str("table"),
        output = j.str("output"),
        primaryKey = j.str("primary_key"),
        url = j.str("url"),
        format = j.opt("format").getOrElse("jdbc"),
        stride = positive("stride", 10000L),
        maxRecordsPerFile = positive("max_records_per_file", 100000L),
        declaredSchema = j.opt("schema_file").map(SchemaYaml.load))
    }

  def load(path: String): Seq[TableJob] =
    parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))
}
