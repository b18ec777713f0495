package graft.etl

import org.apache.spark.sql.types._

/** YAML → StructType loader: parity with the reference's sink-schema
  * loader (`/root/reference/schema/read_schema.go:20-54`, consuming
  * `schema/db.yaml`). The reference formats YAML fields into parquet-go
  * tag strings (`name=…, type=INT64, repetitiontype=REQUIRED`); here the
  * same declaration becomes a Spark `StructType` used to validate /
  * coerce a scan before a sink write.
  *
  * Accepted YAML shape (same as schema/db.yaml):
  * {{{
  * schema:
  *   - name: id
  *     type: INT64
  *     repetitiontype: REQUIRED
  *   - name: data
  *     type: BYTE_ARRAY
  *     convertedtype: UTF8
  *     repetitiontype: REQUIRED
  * }}}
  */
object SchemaYaml {

  private def sparkType(t: String, converted: Option[String]): DataType =
    (t.toUpperCase, converted.map(_.toUpperCase)) match {
      case ("BYTE_ARRAY", Some("UTF8")) => StringType
      case ("BYTE_ARRAY", _)            => BinaryType
      case ("INT64", _)                 => LongType
      case ("INT32", _)                 => IntegerType
      case ("DOUBLE", _)                => DoubleType
      case ("FLOAT", _)                 => FloatType
      case ("BOOLEAN", _)               => BooleanType
      case ("INT96", _)                 => TimestampType
      case (other, _) =>
        throw new IllegalArgumentException(s"unsupported parquet type: $other")
    }

  /** Rejects a malformed file with an IllegalArgumentException naming
    * the field index and key: an empty file or a field without `name`
    * or `type`. */
  def parse(yaml: String): StructType =
    StructType(YamlEntry.list(yaml, "schema", "schema field").map { f =>
      StructField(f.str("name"), sparkType(f.str("type"), f.opt("convertedtype")),
        nullable = !f.opt("repetitiontype").map(_.toUpperCase).contains("REQUIRED"))
    })

  def load(path: String): StructType =
    parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))
}
