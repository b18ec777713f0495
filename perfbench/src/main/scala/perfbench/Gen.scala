package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Order-independent checksum of an extract source or output: row count,
  * sum of ids and sum of xxhash64(data), the sums taken as decimals so
  * they cannot overflow under ANSI mode. */
final case class Checksum(rows: Long, sumId: BigDecimal, sumHash: BigDecimal) {
  def line: String = s"$rows $sumId $sumHash"
}

object Checksum {
  def of(df: DataFrame): Checksum = {
    val r = df.agg(count(lit(1)), sum(col("ID").cast("decimal(38,0)")),
      sum(xxhash64(col("DATA")).cast("decimal(38,0)"))).head()
    Checksum(r.getLong(0), BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2)))
  }
  def parse(s: String): Checksum = s.trim.split(" ") match {
    case Array(n, a, b) => Checksum(n.toLong, BigDecimal(a), BigDecimal(b))
    case _ => throw new IllegalStateException(s"malformed checksum: $s")
  }
}

/** Seeded inputs for the extract and IVF workloads. */
object Gen {
  val table = "BIG_TABLE_1"

  /** The reference's source: `shards` embedded Derby databases holding
    * `BIG_TABLE_1 (ID BIGINT PRIMARY KEY, DATA VARCHAR(255))`, shard i
    * owning ids [i*rows + 1, (i+1)*rows] and 20-character payloads drawn
    * from the seed. Cached under `cacheDir` by (seed, rows); a cached
    * copy is reused only when its stored checksum equals a fresh read of
    * the source. Returns the shard URLs and the source checksum. */
  def derbyShards(spark: SparkSession, cacheDir: Path, seed: Long, rows: Long,
      shards: Int): (Seq[String], Checksum) = {
    // A page cache that holds both shards (Derby's default is 1000 pages),
    // as a production source's buffer pool would, so that jobs read
    // memory, not the file system.
    System.setProperty("derby.storage.pageCacheSize", "20000")
    val dir = cacheDir.resolve(s"derby-seed$seed-rows$rows-shards$shards").toAbsolutePath
    val urls = (0 until shards).map(i => s"jdbc:derby:${dir.resolve(s"shard$i")}")
    val stored = dir.resolve("checksum.txt")
    def source(): Checksum =
      Checksum.of(urls.map(u => spark.read.jdbc(u, table, new java.util.Properties()))
        .reduce(_ union _))
    if (Files.exists(stored)) {
      val expect = Checksum.parse(new String(Files.readAllBytes(stored), "UTF-8"))
      val got = source()
      if (got == expect) return (urls, got)
      System.err.println(s"[perfbench] cached shards at $dir fail their checksum; regenerating")
    }
    deleteTree(dir)
    evictOthers(cacheDir, keep = 3)
    Files.createDirectories(dir)
    urls.zipWithIndex.foreach { case (url, i) =>
      // Derby's bulk import from a CSV file is an order of magnitude
      // faster than row inserts.
      val csv = dir.resolve(s"shard$i.csv")
      val w = Files.newBufferedWriter(csv)
      try (i * rows + 1 to (i + 1) * rows).foreach { id =>
        w.write(s"$id,${payload(seed, id)}\n")
      } finally w.close()
      val conn = java.sql.DriverManager.getConnection(url + ";create=true")
      try {
        conn.createStatement().execute(
          s"CREATE TABLE $table (ID BIGINT NOT NULL PRIMARY KEY, DATA VARCHAR(255) NOT NULL)")
        val call = conn.prepareCall("CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(NULL, ?, ?, ',', NULL, 'UTF-8', 0)")
        call.setString(1, table); call.setString(2, csv.toString)
        call.execute()
      } finally conn.close()
      Files.delete(csv)
    }
    val sum = source()
    Files.write(stored, sum.line.getBytes("UTF-8"))
    (urls, sum)
  }

  /** 20 hex characters of SHA-256 over "seed:id". */
  def payload(seed: Long, id: Long): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(s"$seed:$id".getBytes("UTF-8"))
    val out = new StringBuilder(20)
    d.take(10).foreach { b => out.append(hex(b >> 4 & 0xf)).append(hex(b & 0xf)) }
    out.toString
  }
  private val hex = "0123456789abcdef"

  /** Shut every embedded Derby database down so its files are released. */
  def stopDerby(): Unit =
    try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true").close()
    catch { case _: java.sql.SQLException => () } // Derby signals shutdown by throwing

  /** `n` unit vectors of `dim` dimensions around `clusters` centres, all
    * drawn from `seed`. */
  def vectors(seed: Long, n: Int, dim: Int, clusters: Int, firstId: Long)
      : Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    def unit(v: Array[Double]): Array[Double] = {
      val norm = math.sqrt(v.map(x => x * x).sum); v.map(_ / norm)
    }
    val centres = Array.fill(clusters)(unit(Array.fill(dim)(rnd.nextGaussian())))
    (0 until n).map { i =>
      val c = centres(rnd.nextInt(clusters))
      (firstId + i, unit(c.map(_ + 0.15 * rnd.nextGaussian())).map(_.toFloat).toSeq)
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally s.close()
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  // Keep the cache bounded: every new seed writes a new pair of shards.
  private def evictOthers(cacheDir: Path, keep: Int): Unit = if (Files.isDirectory(cacheDir)) {
    val s = Files.list(cacheDir)
    val old = try s.toArray.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.startsWith("derby-")).toSeq
      finally s.close()
    old.sortBy(p => Files.getLastModifiedTime(p).toMillis).dropRight(keep - 1)
      .foreach(deleteTree)
  }
}
