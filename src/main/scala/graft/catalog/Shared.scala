package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.DerivedTables.pages

/** Column and SQL helpers of the catalog families. A Spark-side helper
  * sits next to its DuckDB twin where it has one. */
private[catalog] object Shared {

  /** exact money-cents: round(x*100) as long — same on both engines */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** Deterministic global sort placed BELOW a query's expensive narrow
    * projection (same rows, same total order as a trailing `orderBy`):
    *
    *  - a trailing `orderBy` makes the RangePartitioner SAMPLE its child,
    *    executing the full expensive projection once for the sampling pass
    *    and again for the output pass (guide §2.4 — the orderBy exists
    *    only for deterministic output); sorting the narrow base columns
    *    first computes the projection exactly once, above the sort;
    *  - the partition count is pinned (`defaultParallelism`) instead of
    *    relying on `orderBy`, because AQE coalesces a small range shuffle
    *    to ONE partition and the expensive projection above it would run
    *    single-threaded (measured on d_c4_filter: 5.8 s coalesced vs
    *    ~1 s wide). AQE honors explicit repartition counts.
    *
    * Range partitions are emitted in key order and rows are sorted within
    * each, so the global row order is identical to `orderBy(keys)` (all
    * catalog sort keys are unique). */
  def presort(df: DataFrame, keys: Column*): DataFrame =
    df.repartitionByRange(df.sparkSession.sparkContext.defaultParallelism, keys: _*)
      .sortWithinPartitions(keys: _*)

  val havSql = graft.sources.DerivedTables.haversineSql(
    "q.qlat", "q.qlng", "p.lat", "p.lng")

  /** Deterministic messy-URL synthesis from (doc_id, source): the
    * documents fixture has no URL column, so both the Spark queries and
    * the DuckDB oracle build the SAME raw string (mixed-case scheme/host,
    * www + deeper subdomains, default and non-default ports, trailing
    * slash, unsorted query with a utm_ tracker, fragment) and
    * canonicalize it independently. */
  def messyUrl: Column = concat(
    when(col("doc_id") % 3 === 0, lit("HTTPS://"))
      .when(col("doc_id") % 3 === 1, lit("http://"))
      .otherwise(lit("https://")),
    when(col("doc_id") % 2 === 0, lit("WWW.")).otherwise(lit("")),
    col("source"), lit(".Example"),
    when(col("doc_id") % 5 === 0, lit(".CO.UK")).otherwise(lit(".COM")),
    when(col("doc_id") % 7 === 0, lit(":443")).otherwise(lit("")),
    lit("/Docs/"), col("doc_id").cast("string"),
    when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
    lit("?utm_source=feed&b="), (col("doc_id") % 3).cast("string"), lit("&a=1"),
    when(col("doc_id") % 2 === 1, lit("#sec2")).otherwise(lit("")))

  /** DuckDB twin of [[messyUrl]]. Interpolated into stripMargin oracle
    * strings, so NO line may start with `|` (a leading `||` would lose
    * its first pipe to the margin stripper) — concatenation operators sit
    * at end-of-line. */
  private val messyUrlSql: String =
    """CASE doc_id % 3 WHEN 0 THEN 'HTTPS://' WHEN 1 THEN 'http://' ELSE 'https://' END ||
      |CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END ||
      |source || '.Example' ||
      |CASE WHEN doc_id % 5 = 0 THEN '.CO.UK' ELSE '.COM' END ||
      |CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END ||
      |'/Docs/' || CAST(doc_id AS VARCHAR) ||
      |CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
      |'?utm_source=feed&b=' || CAST(doc_id % 3 AS VARCHAR) || '&a=1' ||
      |CASE WHEN doc_id % 2 = 1 THEN '#sec2' ELSE '' END""".stripMargin

  /** DuckDB re-implementation of the UrlOps canonicalization recipe (CTE
    * body over a `raw(doc_id, url)` relation) — regexes are ANCHORED so
    * DuckDB's replace-first and Spark's replace-all semantics coincide. */
  private val urlPartsSql: String =
    """parts AS (
      |  SELECT doc_id, url,
      |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS sch,
      |    regexp_replace(regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.\-]*://', ''), '#.*$', '') AS nf
      |  FROM raw
      |), parts2 AS (
      |  SELECT *, regexp_replace(regexp_extract(nf, '^([^/?]*)', 1), '^.*@', '') AS hp,
      |            regexp_replace(nf, '^[^/?]*', '') AS pathq
      |  FROM parts
      |), parts3 AS (
      |  SELECT *,
      |    regexp_replace(lower(regexp_replace(hp, ':[0-9]+$', '')), '\.$', '') AS host,
      |    regexp_extract(hp, ':([0-9]+)$', 1) AS port,
      |    regexp_replace(regexp_replace(pathq, '\?.*$', ''), '/+$', '') AS path,
      |    regexp_extract(nf, '\?(.*)$', 1) AS q
      |  FROM parts2
      |), parts4 AS (
      |  SELECT *,
      |    array_to_string(list_sort(list_filter(string_split(q, '&'),
      |      p -> len(p) > 0 AND NOT (starts_with(lower(p), 'utm_')
      |        OR starts_with(lower(p), 'fbclid') OR starts_with(lower(p), 'gclid')))), '&') AS cq,
      |    CASE WHEN port <> '' AND NOT ((sch = 'http' AND port = '80')
      |      OR (sch = 'https' AND port = '443')) THEN ':' || port ELSE '' END AS cport,
      |    string_split(regexp_replace(lower(regexp_replace(hp, ':[0-9]+$', '')), '\.$', ''), '.') AS hl
      |  FROM parts3
      |), canon AS (
      |  SELECT doc_id,
      |    sch || '://' || host || cport || path ||
      |      CASE WHEN len(cq) > 0 THEN '?' || cq ELSE '' END AS url_canon,
      |    CASE WHEN len(hl) >= 3 AND (hl[-2] || '.' || hl[-1]) IN
      |           ('co.uk', 'org.uk', 'gov.uk', 'ac.uk', 'co.jp', 'com.au', 'com.br')
      |         THEN hl[-3] || '.' || hl[-2] || '.' || hl[-1]
      |         WHEN len(hl) >= 2 THEN hl[-2] || '.' || hl[-1]
      |         ELSE host END AS domain
      |  FROM parts4
      |)""".stripMargin

  /** The messy URL canonicalized in DuckDB: CTEs ending in
    * `canon(doc_id, url_canon, domain)`. */
  val urlCanonCtes: String =
    s"""raw AS (
       |  SELECT doc_id, $messyUrlSql AS url FROM documents
       |), $urlPartsSql""".stripMargin

  // a convex pentagon with off-grid vertices (no page point can sit on an edge)
  val PentagonWkt: String =
    "POLYGON ((-20.000033 -10.000057, 15.000041 -25.000013, 40.000029 5.000071, 10.000037 35.000023, -30.000049 15.000011, -20.000033 -10.000057))"
  val PentagonWkb: Array[Byte] = graft.geo.Wkt.parse(PentagonWkt)

  /** Point bbox struct (xmin = xmax = lng, ymin = ymax = lat). */
  def pointBbox: Column = struct(col("lng").as("xmin"), col("lat").as("ymin"),
    col("lng").as("xmax"), col("lat").as("ymax"))

  /** Pages as a conversion feature table: string `id`, placeholder WKB
    * `geometry` payload, point `bbox`. */
  def pageFeatures(s: SparkSession, d: String): DataFrame = pages(s, d)
    .withColumn("id", col("page_id").cast("string"))
    .withColumn("geometry", to_binary(lit("01"), lit("hex")))
    .withColumn("bbox", pointBbox)

  val P = graft.sources.DerivedTables.pagesSql
  val POLY = graft.sources.DerivedTables.polygonsSql
  val GQ = graft.sources.DerivedTables.geoQueriesSql

  /** Half-plane conjunction for the pentagon (convex, CCW): strict interior. */
  val pentagonInteriorSql: String = {
    val vs = Seq(
      (-20.000033, -10.000057), (15.000041, -25.000013), (40.000029, 5.000071),
      (10.000037, 35.000023), (-30.000049, 15.000011))
    vs.indices.map { i =>
      val (x1, y1) = vs(i); val (x2, y2) = vs((i + 1) % vs.length)
      s"(($x2 - $x1) * (lat - $y1) - ($y2 - $y1) * (lng - $x1)) > 0"
    }.mkString("(", " AND ", ")")
  }

  /** DuckDB fold of 15 md5 hex chars (from 1-based `start`) into a BIGINT. */
  def hexFoldSql(expr: String, start: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(" +
      s"regexp_extract_all(substr(md5($expr), $start, 15), '.'), " +
      s"c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))), (acc, v) -> acc * 16 + v)"

  /** DuckDB twin of Dedup.hash60: fold of the first 15 md5 hex chars. */
  def hash60Sql(expr: String): String = hexFoldSql(expr, 1)

  /** Shared tokenization CTE body (DuckDB twin of Dedup.tokens on the
    * ASCII-only documents fixture). */
  val toksCte: String =
    """toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0) AS tk
      |  FROM documents
      |)""".stripMargin

  /** Full MinHash+LSH oracle: Kirsch–Mitzenmacher lane family (one md5 →
    * two 60-bit halves → 32 lanes) → 16 band buckets → distinct candidate
    * pairs → est-jaccard verify. Mirrors
    * Dedup.minhashLshPairs(laneHashes = portableLaneHashes(32)) exactly. */
  val minhashCtes: String = {
    val h1 = hexFoldSql("s", 1)
    val h2 = hexFoldSql("s", 17)
    s"""$toksCte, sh AS (
       |  SELECT doc_id, CASE WHEN len(tk) >= 2
       |    THEN list_distinct(list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' ')))
       |    ELSE [] END AS sh
       |  FROM toks
       |), hp AS (
       |  SELECT doc_id, list_transform(sh, s -> [$h1, $h2 >> 5]) AS hp
       |  FROM sh WHERE len(sh) > 0
       |), sig AS (
       |  SELECT doc_id, list_transform(range(0, 32), i ->
       |    coalesce(list_min(list_transform(hp, p -> (p[1] + i * p[2]) & 1152921504606846975)), 9223372036854775807)) AS sig
       |  FROM hp
       |), banded AS (
       |  SELECT doc_id, sig, b, array_to_string(sig[b*2+1:b*2+2], ',') AS h
       |  FROM sig, unnest(range(0, 16)) AS t(b)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
       |  FROM banded a JOIN banded b ON a.b = b.b AND a.h = b.h AND a.doc_id < b.doc_id
       |), est AS (
       |  SELECT id_a, id_b,
       |    CAST(list_sum(list_transform(range(1, 33), i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) AS BIGINT) AS agree
       |  FROM cand
       |)""".stripMargin
  }
}
