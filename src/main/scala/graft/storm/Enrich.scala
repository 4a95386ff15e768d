package graft.storm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The enrichment core: every rule of the reference pipeline expressed as
  * built-in Catalyst column expressions (plus the one custom expression,
  * [[GoFmtG]], for Go-`%g` ID parity). Zero UDFs ⇒ the whole chain fuses
  * into a single whole-stage-codegen projection.
  *
  * Semantics follow `internal/domain/transform.go` of the reference
  * (storm-data-etl-service); rule order matches `EnrichStormEvent`
  * (`transform.go:148-161`): event-type → unit → magnitude → severity →
  * source office → location → time bucket → processed_at.
  */
object Enrich {

  // ---------------------------------------------------------------- P2
  /** Lenient float parse: trim; ""/unparseable → 0 (`transform.go:51-61`). */
  def floatOrZero(c: Column): Column =
    coalesce(trim(c).try_cast("double"), lit(0.0))

  // ---------------------------------------------------------------- P3
  /** Magnitude column dispatch + parse (`transform.go:65-90`):
    * hail→Size, tornado→F_Scale, wind→Speed, other→0; trim; ""/"UNK"
    * (case-insensitive) → 0; strip "EF" then "F" prefix; parse else 0. */
  def magnitude(eventType: Column, size: Column, fScale: Column, speed: Column): Column = {
    val raw = trim(
      when(eventType === "hail", size)
        .when(eventType === "tornado", fScale)
        .when(eventType === "wind", speed)
        .otherwise(lit("")))
    val stripped =
      regexp_replace(regexp_replace(raw, "^EF", ""), "^F", "")
    when(raw === "" || upper(raw) === "UNK", lit(0.0))
      .otherwise(coalesce(stripped.try_cast("double"), lit(0.0)))
  }

  // ---------------------------------------------------------------- P4
  /** Combine a base date with an "HHMM"/"HMM" string (`transform.go:93-112`).
    * <3 chars, non-numeric, hour>23 or min>59 → base timestamp unchanged. */
  def hhmmTimestamp(base: Column, hhmm: Column): Column = {
    val t = trim(hhmm)
    val padded = when(length(t) === 3, concat(lit("0"), t)).otherwise(t)
    val hour = substring(padded, 1, 2).try_cast("int")
    // Go parses hhmm[2:] — everything after the first two chars — as the
    // minutes integer, so "12345" → mins=345 → invalid → base. strconv.Atoi
    // accepts only [+-]?digits (no decimals — Spark's string→int cast would
    // truncate "2.5" to 2, so guard with a digits-only rlike).
    val intRe = "^[+-]?[0-9]+$"
    val minsStr = substring(padded, 3, Int.MaxValue)
    val mins = minsStr.try_cast("int")
    val valid = length(t) >= 3 &&
      substring(padded, 1, 2).rlike(intRe) && minsStr.rlike(intRe) &&
      hour.isNotNull && mins.isNotNull &&
      hour.between(0, 23) && mins.between(0, 59)
    when(valid,
      make_timestamp(year(base), month(base), dayofmonth(base), hour, mins, lit(0)))
      .otherwise(base)
  }

  // ---------------------------------------------------------------- P5
  /** Event-time parse (`transform.go:118-129`): trimmed "" → Kafka ts;
    * RFC 3339 if it parses; else HHMM fallback on the Kafka ts date. */
  def eventTime(kafkaTs: Column, timeStr: Column): Column = {
    val t = trim(timeStr)
    // Go's time.Parse(time.RFC3339) accepts any fractional-second precision.
    // Spark's parser takes 1 to n fraction digits for a run of n 'S', so the
    // 9-'S' pattern covers fractions of 1 to 9 digits (nanoseconds); longer
    // ones fall through to the HHMM path.
    val rfc3339 = coalesce(
      Seq("yyyy-MM-dd'T'HH:mm:ssXXX", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSSSSXXX")
        .map(p => try_to_timestamp(t, lit(p))): _*)
    // Both patterns need the 'T' separator (matched case-insensitively), so
    // a string without one — HHMM times, the common case — skips the parses.
    val hasT = t.contains("T") || t.contains("t")
    when(t === "", kafkaTs)
      .otherwise(coalesce(when(hasT, rfc3339), hhmmTimestamp(kafkaTs, timeStr)))
  }

  // ---------------------------------------------------------------- P6
  /** Deterministic event ID (`transform.go:134-142`): first 8 bytes (16 hex
    * chars) of SHA-256 over "type|state|%.4f|%.4f|timeStr|%g", prefixed
    * "{type}-" unless type is empty. Uses the RAW event type / time string
    * and the PRE-normalization magnitude (called from `ParseRawEvent`). */
  def generateId(eventType: Column, state: Column, lat: Column, lon: Column,
                 timeStr: Column, magnitude: Column): Column = {
    val input = concat_ws("|",
      coalesce(eventType, lit("")),
      coalesce(state, lit("")),
      GoFormat.go_fmt_f(lat, 4), // Go-exact %.4f (binary-value rounding)
      GoFormat.go_fmt_f(lon, 4),
      coalesce(timeStr, lit("")),
      GoFormat.go_fmt_g(magnitude))
    // prefix + one hash, so the hash is generated once, not in each branch
    val prefix = when(coalesce(eventType, lit("")) =!= "", concat(eventType, lit("-")))
      .otherwise(lit(""))
    concat(prefix, substring(sha2(input, 256), 1, 16))
  }

  // ---------------------------------------------------------------- P7
  /** Event-type normalization (`transform.go:166-173`): exact match of
    * {hail, wind, tornado} → itself; anything else → "". */
  def normalizeEventType(c: Column): Column =
    when(c.isin("hail", "wind", "tornado"), c).otherwise(lit(""))

  // ---------------------------------------------------------------- P8
  /** Unit normalization/defaulting (`transform.go:177-193`): lowercase+trim;
    * non-empty kept; else default by (normalized) type. */
  def normalizeUnit(eventType: Column, unit: Column): Column = {
    val u = lower(trim(coalesce(unit, lit(""))))
    when(u =!= "", u)
      .otherwise(
        when(eventType === "hail", "in")
          .when(eventType === "wind", "mph")
          .when(eventType === "tornado", "f_scale")
          .otherwise(""))
  }

  // ---------------------------------------------------------------- P9
  /** Magnitude normalization (`transform.go:200-208`): hail in inches with
    * magnitude >= 10 is legacy hundredths-of-inch → ÷100; 0 stays 0. */
  def normalizeMagnitude(eventType: Column, magnitude: Column, unit: Column): Column =
    when(magnitude === 0.0, magnitude)
      .when(eventType === "hail" && unit === "in" && magnitude >= 10.0, magnitude / 100.0)
      .otherwise(magnitude)

  // ---------------------------------------------------------------- P10
  /** Severity classification (`transform.go:218-262`). Null when magnitude
    * is 0 or the event type is unrecognized. */
  def severity(eventType: Column, magnitude: Column): Column = {
    val nullStr = lit(null).cast("string")
    when(magnitude === 0.0, nullStr)
      .when(eventType === "hail",
        when(magnitude < 0.75, "minor")
          .when(magnitude < 1.5, "moderate")
          .when(magnitude < 2.5, "severe")
          .otherwise("extreme"))
      .when(eventType === "wind",
        when(magnitude < 50.0, "minor")
          .when(magnitude < 74.0, "moderate")
          .when(magnitude < 96.0, "severe")
          .otherwise("extreme"))
      .when(eventType === "tornado",
        when(magnitude <= 1.0, "minor")
          .when(magnitude === 2.0, "moderate")
          .when(magnitude <= 4.0, "severe")
          .otherwise("extreme"))
      .otherwise(nullStr)
  }

  // ---------------------------------------------------------------- P11
  /** NWS source-office extraction (`transform.go:266-278`): 3–5 uppercase
    * letters in parens at end of trimmed comments, else "". */
  val officePattern = "\\(([A-Z]{3,5})\\)\\s*$"

  def sourceOffice(comments: Column): Column =
    regexp_extract(trim(coalesce(comments, lit(""))), officePattern, 1)

  // ---------------------------------------------------------------- P12
  /** NWS relative-location parse (`transform.go:283-301`):
    * "<dist> <compass> <name>" → (name, distance, direction); no match →
    * (trimmed raw, null, null). */
  val locationPattern = "^(\\d+(?:\\.\\d+)?)\\s+([NSEW]{1,3})\\s+(.+)$"

  def locationName(location: Column): Column = {
    val t = trim(coalesce(location, lit("")))
    when(t.rlike(locationPattern), trim(regexp_extract(t, locationPattern, 3)))
      .otherwise(t)
  }

  def locationDistance(location: Column): Column = {
    val t = trim(coalesce(location, lit("")))
    when(t.rlike(locationPattern),
      regexp_extract(t, locationPattern, 1).try_cast("double"))
      .otherwise(lit(null).cast("double"))
  }

  def locationDirection(location: Column): Column = {
    val t = trim(coalesce(location, lit("")))
    when(t.rlike(locationPattern), regexp_extract(t, locationPattern, 2))
      .otherwise(lit(null).cast("string"))
  }

  // ---------------------------------------------------------------- P13
  /** Hourly UTC time bucket (`transform.go:309-315`). */
  def timeBucket(eventTime: Column): Column = date_trunc("hour", eventTime)

  // ---------------------------------------------------------------- P15
  // All time semantics (hourly UTC buckets, HHMM base dates) follow the
  // session time zone; anything but UTC silently diverges from the
  // reference, so fail fast instead (`transform.go:108-111,314`).
  private def requireUtc(df: DataFrame): Unit = {
    val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    require(tz == "UTC" || tz == "Etc/UTC" || tz == "Z",
      s"enrich() requires spark.sql.session.timeZone=UTC (got $tz): " +
        "hour buckets and HHMM base dates are defined in UTC")
  }

  /** Raw columns [[finish]] reads besides the ones [[stage]] parses. */
  private val finishRawCols = Seq("State", "County", "Location", "Comments")

  /** The parses of [[enrich]]: magnitude, event time, lat/lon, event type,
    * unit and normalized magnitude, as `_`-prefixed columns next to `keep`
    * and the raw columns [[finish]] reads. Input as for [[enrich]].
    *
    * Staged projections, not one flat select: the expensive parses
    * (eventTime: 2 timestamp patterns + HHMM; magnitude: trim/regex/cast)
    * feed multiple downstream columns, and Catalyst's CollapseProject keeps
    * a projection boundary when a non-cheap expression is referenced more
    * than once — so each parse runs once per row instead of once per use. */
  def stage(raw: DataFrame, kafkaTsCol: String = "kafka_timestamp",
            keep: Seq[String] = Nil): DataFrame = {
    requireUtc(raw)
    raw.select(
      (keep ++ finishRawCols).distinct.map(col) ++ Seq(
        coalesce(col("EventType"), lit("")).as("_raw_type"),
        coalesce(col("Time"), lit("")).as("_time_str"),
        magnitude(coalesce(col("EventType"), lit("")), col("Size"),
          col("F_Scale"), col("Speed")).as("_mag_parsed"),
        eventTime(col(kafkaTsCol), coalesce(col("Time"), lit(""))).as("_et"),
        floatOrZero(col("Lat")).as("_lat"),
        floatOrZero(col("Lon")).as("_lon")): _*)
      .withColumn("_ev_type", normalizeEventType(col("_raw_type")))
      .withColumn("_unit", normalizeUnit(col("_ev_type"), lit("")))
      .withColumn("_mag_norm",
        normalizeMagnitude(col("_ev_type"), col("_mag_parsed"), col("_unit")))
  }

  /** The rest of [[enrich]] over the output of [[stage]]: id, severity,
    * location, source office, time bucket and `processed_at`, after `keep`. */
  def finish(staged: DataFrame, processedAt: Column = current_timestamp(),
             keep: Seq[String] = Nil): DataFrame = {
    requireUtc(staged)
    staged.select(
      keep.map(col) ++ Seq(
        generateId(col("_raw_type"), coalesce(col("State"), lit("")),
          col("_lat"), col("_lon"), col("_time_str"), col("_mag_parsed"))
          .as("id"),
        col("_ev_type").as("event_type"),
        col("_lat").as("lat"),
        col("_lon").as("lon"),
        col("_mag_norm").as("magnitude"),
        col("_unit").as("unit"),
        severity(col("_ev_type"), col("_mag_norm")).as("severity"),
        col("_et").as("event_time"),
        coalesce(col("Location"), lit("")).as("location_raw"),
        locationName(col("Location")).as("location_name"),
        locationDistance(col("Location")).as("location_distance"),
        locationDirection(col("Location")).as("location_direction"),
        coalesce(col("State"), lit("")).as("state"),
        coalesce(col("County"), lit("")).as("county"),
        coalesce(col("Comments"), lit("")).as("comments"),
        sourceOffice(col("Comments")).as("source_office"),
        timeBucket(col("_et")).as("time_bucket"),
        processedAt.as("processed_at")): _*)
  }

  /** Full parse + enrichment over a DataFrame of raw collector records:
    * `finish(stage(raw))`.
    *
    * Input: the 11 raw string columns (`Model.rawFieldNames`) plus a
    * timestamp column (default `kafka_timestamp`) providing the base date
    * for HHMM expansion. Output: `keep`, then the flat enriched columns
    * (nest with [[nested]] for the wire format). `processedAt` is
    * injectable for deterministic tests, mirroring the reference's
    * swappable clock (`internal/domain/clock.go:7-16`); it and `keep` may
    * read any input column.
    */
  def enrich(raw: DataFrame,
             kafkaTsCol: String = "kafka_timestamp",
             processedAt: Column = current_timestamp(),
             keep: Seq[String] = Nil): DataFrame =
    finish(stage(raw, kafkaTsCol, keep = raw.columns.toSeq), processedAt, keep)

  // ---------------------------------------------------------------- P1
  /** Parse the Kafka envelope's JSON value into the 11 raw string columns.
    * Malformed JSON is the only hard error in the reference
    * (`transform.go:26-48`); here it yields a null struct, surfaced as
    * `parse_error` so callers can split a dead-letter branch (F1) with a
    * plain filter instead of exceptions.
    */
  private def parsedWithCorrupt(value: Column): Column = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val schemaWithCorrupt =
      StructType(Model.rawSchema.fields :+ StructField("_corrupt", StringType))
    from_json(value.cast("string"), schemaWithCorrupt,
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt"))
  }

  /** True when the envelope value is NOT parseable as a raw record (the
    * reference's only hard error). Shared by the parse path and dead-letter
    * routing so both always agree on what "poison" means. */
  def parseErrorFlag(value: Column): Column = {
    val rec = parsedWithCorrupt(value)
    rec.isNull || rec.getField("_corrupt").isNotNull
  }

  /** Parse the Kafka envelope's JSON value into the 11 raw string columns
    * (P1). from_json in PERMISSIVE mode yields a null-FILLED struct for
    * malformed input (not a null struct), so malformed detection needs the
    * corrupt-record column. A legit "{}" parses clean with all-null fields —
    * the reference treats that as a valid zero-value event
    * (transform_test.go:96-103), and so does this path. `extra` columns
    * are computed in the same projection as from_json and passed through.
    */
  def parseRawJson(df: DataFrame, valueCol: String = "value",
                   kafkaTsCol: String = "timestamp",
                   keep: Seq[String] = Nil,
                   extra: Seq[Column] = Nil): DataFrame = {
    val parsed = df.select(
      (col("*") +: parsedWithCorrupt(col(valueCol)).as("_rec") +: extra): _*)
    val rawCols = Model.rawFieldNames.map(f => col(s"_rec.$f").as(f))
    parsed.select(
      keep.map(col) ++ rawCols ++ Seq(
        col(kafkaTsCol).as("kafka_timestamp"),
        (col("_rec").isNull || col("_rec._corrupt").isNotNull)
          .as("parse_error")): _*)
  }

  /** Assemble the flat enriched columns into the nested wire schema
    * (`event.go:76-89`).
    *
    * With `omitEmpty = true` the fields the reference tags `omitempty`
    * (geo.lat/lon zero; location raw/name/state/county, comments,
    * source_office empty — `event.go:79-86`) are nullified, so
    * [[wireJson]]'s to_json drops them exactly like Go's encoding/json
    * omits them — byte parity with `writer.go` output, not just field-level
    * equivalence. Fields WITHOUT omitempty (id, event_type,
    * measurement.magnitude/unit, event_time, time_bucket, processed_at)
    * always serialize, and struct-typed fields (geo, location, measurement)
    * always appear — Go never treats a struct as empty, so zeroed geo
    * renders as `"geo":{}` in both engines. */
  def nested(flat: DataFrame, omitEmpty: Boolean = false): DataFrame = {
    def s(c: Column): Column = if (omitEmpty) when(c =!= "", c) else c
    def z(c: Column): Column = if (omitEmpty) when(c =!= 0.0, c) else c
    flat.select(
      col("id"), col("event_type"),
      struct(z(col("lat")).as("lat"), z(col("lon")).as("lon")).as("geo"),
      struct(col("magnitude"), col("unit"), col("severity")).as("measurement"),
      col("event_time"),
      struct(
        s(col("location_raw")).as("raw"), s(col("location_name")).as("name"),
        col("location_distance").as("distance"),
        col("location_direction").as("direction"),
        s(col("state")).as("state"), s(col("county")).as("county"))
        .as("location"),
      s(col("comments")).as("comments"),
      s(col("source_office")).as("source_office"), col("time_bucket"),
      col("processed_at"))
  }

  /** Kafka sink value: nested StormEvent JSON (`writer.go:55-68`). */
  def wireJson(nestedRow: Column): Column =
    to_json(nestedRow, Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ssXXX"))

  /** SQL exposure (SURVEY §2.8): register the enriched form of a raw-record
    * temp view as another temp view, so the same semantics are reachable
    * from `spark.sql` text as from the DataFrame API. The raw view must
    * carry `Model.rawFieldNames` plus a `kafka_timestamp` column. */
  def createEnrichedView(spark: org.apache.spark.sql.SparkSession,
                         rawView: String, viewName: String,
                         processedAt: Column = current_timestamp()): Unit =
    enrich(spark.table(rawView), processedAt = processedAt)
      .createOrReplaceTempView(viewName)
}
