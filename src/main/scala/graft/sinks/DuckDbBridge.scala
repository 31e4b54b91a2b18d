package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.proto.ArrowInterchange

/** DuckDB interop seam — the Spark-native answer to the reference's
  * ADBC/DuckDB bridge (`duck.go:79-255`: BigQuack opens a DuckDB database
  * over ADBC and ingests Arrow batches so users can keep querying in
  * DuckDB).
  *
  * The engine replaced DuckDB with Catalyst per the north star, but a
  * user who wants their curated output *in* DuckDB still needs a sink.
  * With zero egress and no ADBC driver on the classpath, the honest
  * Spark-first equivalent is a self-contained ATTACHABLE BUNDLE rather
  * than a live connection:
  *
  * {{{
  *   dir/
  *     data/ part-*.parquet    // executor-written snapshot (no driver hop)
  *     catalog.sql             // CREATE OR REPLACE VIEW <name> AS
  *                             //   SELECT <typed column list>
  *                             //   FROM read_parquet('<dir>/data/part-*.parquet');
  *     schema.json             // {name, columns: [{name, spark, duckdb}]}
  * }}}
  *
  * `duckdb -c ".read catalog.sql"` (or any ADBC client executing the
  * file) attaches the data with the declared types — parquet is the
  * interchange format both engines read natively, which is exactly how
  * the repo's own oracle gate consumes Spark output every round. The
  * live-ADBC swap-in seam is this object's surface: `export` stays the
  * contract, a connection-backed implementation would stream the same
  * schema + batches over the driver instead of writing files.
  *
  * Scale shape: the data write is a plain distributed `df.write.parquet`
  * (one file per task, no collect); catalog.sql/schema.json are O(columns)
  * driver metadata, same class as the manifest commit.
  */
object DuckDbBridge {

  /** Spark → DuckDB type names for the catalog view's explicit column
    * list. Nested types recurse; anything unmappable fails loudly rather
    * than emitting a view DuckDB would reject later.
    */
  def duckType(dt: DataType): String = dt match {
    case BooleanType => "BOOLEAN"
    case ByteType => "TINYINT"
    case ShortType => "SMALLINT"
    case IntegerType => "INTEGER"
    case LongType => "BIGINT"
    case FloatType => "FLOAT"
    case DoubleType => "DOUBLE"
    case StringType => "VARCHAR"
    case BinaryType => "BLOB"
    case DateType => "DATE"
    case TimestampType => "TIMESTAMP"
    case TimestampNTZType => "TIMESTAMP"
    case d: DecimalType => s"DECIMAL(${d.precision}, ${d.scale})"
    case ArrayType(e, _) => s"${duckType(e)}[]"
    case MapType(k, v, _) => s"MAP(${duckType(k)}, ${duckType(v)})"
    case StructType(fields) =>
      fields.map(f => s"${quoteIdent(f.name)} ${duckType(f.dataType)}")
        .mkString("STRUCT(", ", ", ")")
    case other =>
      throw new IllegalArgumentException(s"no DuckDB mapping for $other")
  }

  /** Double-quote an identifier, doubling embedded quotes (SQL standard —
    * identical in DuckDB and every ANSI engine).
    */
  def quoteIdent(name: String): String =
    "\"" + name.replace("\"", "\"\"") + "\""

  /** Single-quote a string literal (path), doubling embedded quotes. */
  private def quoteLit(s: String): String =
    "'" + s.replace("'", "''") + "'"

  /** The `CREATE OR REPLACE VIEW` statement for a schema over the
    * bundle's parquet glob. The column list is explicit and CAST — an
    * attach is a declared contract, not schema inference.
    */
  def catalogSql(viewName: String, schema: StructType, dataGlob: String): String = {
    val cols = schema.fields
      .map(f =>
        s"    CAST(${quoteIdent(f.name)} AS ${duckType(f.dataType)}) AS ${quoteIdent(f.name)}")
      .mkString(",\n")
    s"""CREATE OR REPLACE VIEW ${quoteIdent(viewName)} AS
       |SELECT
       |$cols
       |FROM read_parquet(${quoteLit(dataGlob)});
       |""".stripMargin
  }

  private def schemaJson(viewName: String, schema: StructType): String = {
    def q(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val cols = schema.fields
      .map(f =>
        s"{${q("name")}: ${q(f.name)}, ${q("spark")}: ${q(f.dataType.sql)}, " +
          s"${q("duckdb")}: ${q(duckType(f.dataType))}}")
      .mkString("[", ", ", "]")
    s"{${q("name")}: ${q(viewName)}, ${q("columns")}: $cols}"
  }

  /** Write the attachable bundle. Returns the bundle directory. */
  def export(df: DataFrame, dir: String, viewName: String): String = {
    val dataDir = s"$dir/data"
    df.write.mode("overwrite").parquet(dataDir)
    val sql = catalogSql(viewName, df.schema, s"$dataDir/*.parquet")
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/catalog.sql"), sql.getBytes(StandardCharsets.UTF_8))
    Files.write(
      Paths.get(s"$dir/schema.json"),
      schemaJson(viewName, df.schema).getBytes(StandardCharsets.UTF_8))
    dir
  }

  /** Re-open the bundle's data from Spark — the round-trip read used by
    * the correctness gate (DuckDB consumes the same files via
    * catalog.sql).
    */
  def readBack(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Parquet.read(spark, s"$dir/data")

  /** LIVE DuckDB execution over an exported bundle — the connection-backed
    * half of the seam (`duck.go:104-107` is the reference's entrypoint).
    * The JDBC driver jar is supplied AT RUNTIME and loaded through its own
    * classloader, so the library keeps zero compile-time dependencies (a
    * zero-egress build never needs the jar; a user who has one gets the
    * real in-process connection). Attaches the bundle by executing its
    * `catalog.sql` verbatim, runs each query, and returns rows as strings
    * (`null` stays null) — the lowest-common-denominator shape a
    * cross-engine smoke check needs.
    *
    * Driver-side by design: this is the interactive attach path, not a
    * data-plane operator — the bundle's data never moves (DuckDB reads
    * the same parquet files Spark wrote).
    */
  def runLive(
      driverJar: java.nio.file.Path,
      bundleDir: String,
      queries: Seq[String]): Seq[Seq[Seq[String]]] = {
    val conn = connect(driverJar)
    try {
      val st = conn.createStatement()
      try {
        val catalog = new String(
          Files.readAllBytes(Paths.get(s"$bundleDir/catalog.sql")),
          StandardCharsets.UTF_8)
        st.execute(catalog)
        queries.map { q =>
          val rs = st.executeQuery(q)
          val n = rs.getMetaData.getColumnCount
          val rows = scala.collection.mutable.Buffer.empty[Seq[String]]
          while (rs.next())
            rows += (1 to n).map(i => Option(rs.getObject(i)).map(_.toString).orNull)
          rows.toSeq
        }
      } finally st.close()
    } finally conn.close()
  }

  /** Open a live in-process DuckDB connection from a runtime-supplied
    * JDBC driver jar. Instantiates the driver directly instead of
    * DriverManager: DriverManager refuses drivers from a classloader the
    * caller can't see, which is exactly our setup.
    */
  private def connect(driverJar: java.nio.file.Path): java.sql.Connection = {
    val loader = new java.net.URLClassLoader(
      Array(driverJar.toUri.toURL), getClass.getClassLoader)
    val driver = loader.loadClass("org.duckdb.DuckDBDriver")
      .getDeclaredConstructor().newInstance().asInstanceOf[java.sql.Driver]
    val conn = driver.connect("jdbc:duckdb:", new java.util.Properties)
    require(conn != null, s"driver at $driverJar did not accept jdbc:duckdb:")
    conn
  }

  /** JDBC result-set column → Spark type, for marshaling live query
    * results back out as Arrow. DuckDB's TIMESTAMP is zone-less →
    * TimestampNTZ (TypeMapping §1.3).
    */
  private def sparkTypeOfJdbc(md: java.sql.ResultSetMetaData, i: Int): DataType = {
    import java.sql.Types._
    md.getColumnType(i) match {
      case BIGINT => LongType
      case INTEGER => IntegerType
      case SMALLINT => ShortType
      case DOUBLE | FLOAT | REAL => DoubleType
      case VARCHAR | CHAR | LONGVARCHAR => StringType
      case BOOLEAN | BIT => BooleanType
      case DATE => DateType
      case TIMESTAMP => TimestampNTZType
      case DECIMAL | NUMERIC => DecimalType(md.getPrecision(i), md.getScale(i))
      case VARBINARY | BINARY | BLOB => BinaryType
      case other =>
        throw new IllegalArgumentException(
          s"live query: unsupported JDBC type $other for column ${md.getColumnName(i)}")
    }
  }

  /** LIVE Arrow-batch ingest — the remaining delta to the reference's
    * ADBC path (`duck.go:217-252`: ingest is a loop over the stream's
    * record batches into a bound statement). Takes an Arrow IPC stream
    * (from [[graft.proto.ArrowInterchange.toIpcStream]]), creates `table`
    * on a live in-process connection with the schema declared by the
    * stream itself (read through `ArrowInterchange.toSparkField`, the one
    * Arrow→Spark type map), and INSERTs batch-at-a-time — one
    * `executeBatch` per Arrow record batch, preserving the stream's
    * granularity; no file
    * ever touches disk. Each query's result comes back as an Arrow IPC
    * stream, so the round trip is Arrow-in/Arrow-out like the
    * reference's `Query` (duck.go:190-206).
    *
    * Driver-side by design (same class as `runLive`): this is the
    * interactive attach seam, not a data-plane operator — a 100 TB
    * handoff goes through `export`'s distributed parquet bundle.
    * Scalars only: the ADBC wire the reference speaks is flat here too,
    * so a LIST or STRUCT column fails with an `IllegalArgumentException`
    * naming the column before any table is created.
    */
  def ingestArrowLive(
      driverJar: java.nio.file.Path,
      ipc: Array[Byte],
      table: String,
      queries: Seq[String]): Seq[Array[Byte]] = {
    import scala.jdk.CollectionConverters._
    val allocator = new org.apache.arrow.memory.RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(ipc), allocator)
    val conn = connect(driverJar)
    try {
      val root = reader.getVectorSchemaRoot
      val fields = root.getSchema.getFields.asScala.toSeq
      val sparkTypes = fields.map { f =>
        val t = ArrowInterchange.toSparkField(f).dataType
        require(!t.isInstanceOf[ArrayType] && !t.isInstanceOf[StructType],
          s"live ingest: column '${f.getName}' is ${t.simpleString}; only scalar columns are supported")
        t
      }
      val colsDdl = fields.zip(sparkTypes)
        .map { case (f, t) => s"${quoteIdent(f.getName)} ${duckType(t)}" }
        .mkString(", ")
      val st = conn.createStatement()
      try st.execute(s"CREATE TABLE ${quoteIdent(table)} ($colsDdl)")
      finally st.close()
      val placeholders = fields.map(_ => "?").mkString(", ")
      val ins = conn.prepareStatement(
        s"INSERT INTO ${quoteIdent(table)} VALUES ($placeholders)")
      try {
        while (reader.loadNextBatch()) {
          (0 until root.getRowCount).foreach { i =>
            sparkTypes.zipWithIndex.foreach { case (t, j) =>
              val v = root.getVector(j).getObject(i)
              val bound: AnyRef = (v, t) match {
                case (null, _) => null
                case (x: org.apache.arrow.vector.util.Text, _) => x.toString
                case (x: java.lang.Long, TimestampNTZType) =>
                  // TimeStampMicroVector.getObject is LocalDateTime in
                  // arrow 18, but guard the raw-micros form too; floor
                  // division keeps pre-1970 micros' nano component in
                  // [0, 1e9) instead of negative
                  java.sql.Timestamp.valueOf(
                    java.time.LocalDateTime.ofEpochSecond(
                      Math.floorDiv(x, 1000000L),
                      (Math.floorMod(x, 1000000L) * 1000L).toInt,
                      java.time.ZoneOffset.UTC))
                case (x: java.lang.Long, TimestampType) =>
                  // TimeStampMicroTZVector.getObject is raw UTC micros
                  new java.sql.Timestamp(Math.floorDiv(x, 1000L)) {
                    setNanos((Math.floorMod(x, 1000000L) * 1000L).toInt)
                  }
                case (x: java.time.LocalDateTime, _) => java.sql.Timestamp.valueOf(x)
                case (x: java.lang.Integer, DateType) =>
                  java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(x.longValue()))
                case (x: java.time.LocalDate, DateType) => java.sql.Date.valueOf(x)
                case (x, _) => x.asInstanceOf[AnyRef]
              }
              ins.setObject(j + 1, bound)
            }
            ins.addBatch()
          }
          ins.executeBatch()
        }
      } finally ins.close()
      queries.map { q =>
        val qst = conn.createStatement()
        try {
          val rs = qst.executeQuery(q)
          val md = rs.getMetaData
          val n = md.getColumnCount
          val outSchema = StructType(
            (1 to n).map(i =>
              StructField(md.getColumnName(i), sparkTypeOfJdbc(md, i))))
          val rows = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.Row]
          while (rs.next()) {
            val vals = (1 to n).map { i =>
              val v: Any = outSchema(i - 1).dataType match {
                case TimestampNTZType =>
                  Option(rs.getTimestamp(i)).map(_.toLocalDateTime).orNull
                case DateType => rs.getDate(i) // getObject is LocalDate in DuckDB JDBC
                case _: DecimalType => rs.getBigDecimal(i)
                case _ => rs.getObject(i)
              }
              if (rs.wasNull()) null else v
            }
            rows += org.apache.spark.sql.Row.fromSeq(vals)
          }
          ArrowInterchange.toIpcStream(rows.iterator, outSchema)
        } finally qst.close()
      }
    } finally {
      conn.close()
      reader.close()
      allocator.close()
    }
  }
}
