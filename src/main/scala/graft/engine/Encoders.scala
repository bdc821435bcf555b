package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ResultStream
import java.io.{BufferedWriter, OutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets

/** Streaming result encoders.
  *
  * Executors render every row as one text value (JSON object or CSV
  * line) and [[ResultStream]] brings the text to the driver in result
  * order, one Spark job per wave of up to `defaultParallelism`
  * partitions. The driver therefore holds at most one wave of the
  * result, never the whole of it — the reference's never-materialize
  * property (duckdb/query.go:63-110 named-pipe pump;
  * clickhouse/query.go:26-52 line relay) — and
  * `spark.driver.maxResultSize` bounds each wave, not the response.
  *
  * A root ORDER BY whose input fits in one wave runs as per-partition
  * local sorts merged on the driver (one job, no range shuffle); a
  * larger or unsized input keeps Spark's range-partitioned sort and
  * streams in waves like any other result.
  */
object ResultEncoders {

  /** Single JSON array of row objects, the reference's default format
    * (`COPY (q) TO ... (FORMAT JSON, ARRAY TRUE)`, duckdb/query.go:56).
    * Null columns serialize as `"col":null` — every row carries every
    * schema key, like the reference's DuckDB JSON export (Spark's
    * `toJSON` would drop null fields per row). */
  def writeJson(df: DataFrame, out: OutputStream): Unit = {
    val text =
      if (df.schema.isEmpty) lit("{}")
      else to_json(struct(df.schema.fieldNames.map(n => col(s"`$n`")).toIndexedSeq: _*),
        java.util.Map.of("ignoreNullFields", "false"))
    val w = writer(out)
    w.write("[")
    var first = true
    ResultStream.foreach(df.select(text)) { row =>
      if (!first) w.write(",")
      w.write(row.getUTF8String(0).toString)
      first = false
    }
    w.write("]")
    w.flush()
  }

  /** CSV with a header row; NULLs written as the literal `null` to match
    * the reference's csv writers (redshift/query.go:84-142,
    * bigquery/query.go:57-125). Executors build each line: every column
    * is CAST to string engine-side (timestamps/decimals format via
    * Spark, not JVM toString) and quoted like [[csvQuote]]. */
  def writeCsv(df: DataFrame, out: OutputStream): Unit = {
    val names = df.schema.fieldNames
    val line = concat_ws(",", names.map(n => csvField(col(s"`$n`").cast("string"))).toIndexedSeq: _*)
    val w = writer(out)
    w.write(names.map(csvQuote).mkString(","))
    w.write("\n")
    ResultStream.foreach(df.select(line)) { row =>
      w.write(row.getUTF8String(0).toString)
      w.write("\n")
    }
    w.flush()
  }

  private def writer(out: OutputStream): Writer =
    new BufferedWriter(new OutputStreamWriter(out, StandardCharsets.UTF_8), 1 << 16)

  private def csvField(s: Column): Column =
    when(s.isNull, lit("null"))
      .when(s.rlike("[,\"\r\n]"), concat(lit("\""), regexp_replace(s, "\"", "\"\""), lit("\"")))
      .otherwise(s)

  private def csvQuote(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s
}
