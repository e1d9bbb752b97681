package graft.model

import org.apache.spark.sql.types.StructType

/** Core data model of the engine: the file row as a case class, the
  * testdata schemas, the version/tombstone algebra, and datanode id
  * packing.
  *
  * The file row mirrors the reference's annotated row class (adfs-hdfs
  * A/file/File.java:30-58, path per SURVEY.md aliases). All integral
  * columns are Long here — uniform 64-bit avoids cross-engine type drift
  * in the differential oracle while preserving semantics.
  */
final case class FileRow(
    id: Long, parentId: Long, name: String, length: Long,
    blockSize: Long, replication: Long, atime: Long, mtime: Long,
    owner: Long, leaseHolder: Option[String], leaseRecoveryTime: Long,
    version: Long)

/** Declared schemas of the ten testdata tables (TESTDATA.md; one parquet
  * file per table under an sfDir). Reads go through
  * [[graft.core.Tables.readDeclared]], so no read re-infers a parquet
  * footer: inference costs one Spark job per table per read. The
  * timestamp columns are TIMESTAMP_NTZ: the files store TIMESTAMP(MICROS)
  * with isAdjustedToUTC=false. TestdataSchemaSpec pins each declaration,
  * nullability included, to the schema Spark infers. */
object TestdataSchema {
  private val ddl: Seq[(String, String)] = Seq(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> ("s_suppkey BIGINT, s_name STRING, s_nationkey INT, " +
      "s_acctbal DOUBLE"),
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
      "p_type STRING, p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "documents" -> ("doc_id BIGINT, text STRING, lang STRING, " +
      "source STRING, n_chars BIGINT"),
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  val names: Seq[String] = ddl.map(_._1)

  private val schemas: Map[String, StructType] =
    ddl.map { case (n, d) => n -> StructType.fromDDL(d) }.toMap

  def apply(name: String): StructType = schemas(name)
}

/** Datanode id packing: id = ip<<32 | port
  * (A/util/IpAddress.java:111-118, A/datanode/Datanode.java:166-172). */
object DatanodeId {
  def pack(ip: String, port: Int): Long = {
    val segs = ip.split('.')
    require(segs.length == 4, s"bad ipv4: $ip")
    val ipInt = segs.foldLeft(0L)((acc, s) => (acc << 8) | (s.toInt & 0xffL))
    (ipInt << 32) | (port & 0xffffffffL)
  }
  def ip(id: Long): String = {
    val ipInt = id >>> 32
    Seq(24, 16, 8, 0).map(sh => (ipInt >> sh) & 0xffL).mkString(".")
  }
  def port(id: Long): Int = (id & 0xffffffffL).toInt
}

/** Lease expiry limits (H/org/apache/hadoop/hdfs/protocol/FSConstants.java:39-40). */
object LeaseLimits {
  val SoftMs: Long = 60L * 1000
  val HardMs: Long = 3600L * 1000
}
