"""The storm-report enrichment dataflow as pure Catalyst column expressions.

Each function mirrors one scalar operator of the reference's enrichment
pipeline (/root/reference/internal/domain/transform.go — file:line cited per
function). Everything compiles to Spark built-ins: zero Python UDFs, so the
whole enrichment fuses into one WholeStageCodegen pass per record — the Spark
analog of the reference's single-pass per-row transform.

Fixed pipeline order (transform.go:148-161): normalize type → normalize unit
→ normalize magnitude → derive severity → extract office → parse location →
time bucket → processed-at. `enrich_raw` composes them in exactly that order.

Sentinels: invalid type/unit/office → '' (not NULL); severity / distance /
direction → NULL; zero time → NULL timestamp.

Known divergences from the Go reference, all outside the NOAA input domain
(found by property-based testing, pinned in tests/test_property.py):
- trim: Spark's trim strips all chars ≤ U+0020 (Java semantics); Go's
  TrimSpace strips only Unicode whitespace — differs for control-char input.
- HHMM digits: Go's Atoi accepts a leading sign (range check still rejects
  negatives); the digits-only regex here rejects sign-prefixed strings.
- %g formatting (fmt_g): Go switches to scientific notation at |x|≥1e21 or
  exponent < -4; Java at ≥1e7 or < 1e-3 — identical in the plain-decimal
  range that magnitudes/coordinates occupy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from storm_data_etl_spark.schema import RAW_SCHEMA

ColumnOrName = Column | str

#: NWS office code at end of comments, e.g. "Quarter hail reported. (FWD)".
#: transform.go:14-17. RE2 pattern is Java-regex compatible verbatim.
SOURCE_OFFICE_RE = r"\(([A-Z]{3,5})\)\s*$"

#: NWS relative location "<distance> <compass> <name>", e.g. "8 ESE Chappel".
#: transform.go:19-21. [NSEW]{1,3} deliberately admits nonsense like "EEE".
LOCATION_RE = r"^(\d+(?:\.\d+)?)\s+([NSEW]{1,3})\s+(.+)$"

#: Go time.RFC3339 shape: strict 'T', seconds required, 'Z' or ±HH:MM zone,
#: optional fractional seconds. Spark's plain string→timestamp cast is far
#: looser (accepts dates, space separators), so we gate the cast on this
#: regex to replicate Go's accept/reject behavior (transform.go:124).
RFC3339_RE = r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:\d{2})$"


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def parse_float_or_zero(col: ColumnOrName) -> Column:
    """Lenient float parse: trim; ''→0; parse failure→0 (transform.go:51-61).

    try_cast('' as double) is NULL, so one coalesce covers both the empty
    and the malformed case.
    """
    return F.coalesce(F.trim(_c(col)).try_cast("double"), F.lit(0.0))


def _parse_magnitude_string(raw: Column) -> Column:
    """trim; ''/'UNK' (case-insens.)→0; strip one EF/F prefix; parse-or-0.

    transform.go:78-89. Go strips TrimPrefix("EF") then TrimPrefix("F"):
    "EF2"→"2" (the second trim sees "2", no F), "F3"→"3", "FF3"→"F3"→parse
    fail→0. The regex ^(EF|F) with a single replacement is equivalent.
    """
    t = F.trim(raw)
    stripped = F.regexp_replace(t, r"^(EF|F)", "")
    return (
        F.when((t == "") | (F.upper(t) == "UNK"), F.lit(0.0))
        .otherwise(F.coalesce(stripped.try_cast("double"), F.lit(0.0)))
    )


def magnitude_raw(
    event_type: ColumnOrName,
    size: ColumnOrName,
    f_scale: ColumnOrName,
    speed: ColumnOrName,
) -> Column:
    """Type-dispatched raw magnitude (transform.go:65-90).

    hail→Size, tornado→F_Scale, wind→Speed, other→0. Dispatch is on the RAW
    (pre-normalization) event type, exact match.
    """
    et = _c(event_type)
    return (
        F.when(et == "hail", _parse_magnitude_string(_c(size)))
        .when(et == "tornado", _parse_magnitude_string(_c(f_scale)))
        .when(et == "wind", _parse_magnitude_string(_c(speed)))
        .otherwise(F.lit(0.0))
    )


def parse_hhmm(base_ts: ColumnOrName, hhmm: ColumnOrName) -> Column:
    """HHMM → timestamp on base date; invalid → base timestamp unchanged.

    transform.go:93-112: trim; len<3 → base; len==3 → zero-pad; then
    hour = Atoi(s[:2]), minutes = Atoi(s[2:]) — the minute slice runs TO
    THE END, so len>4 digit strings stay in Go's domain when the tail
    parses ≤59 ("00001" → 00:01; hypothesis found the earlier
    `lpad(t,4)` formulation silently truncating those). Digit-only gate ≡
    Atoi failure on other chars; try_cast null on >int tails ≡ Atoi
    range error. Known pinned divergence (out-of-domain): Go's Atoi also
    accepts a leading sign inside the slices ("+100" → 01:00) — kept out
    of scope like the other sign cases (see module notes).
    """
    ts = _c(base_ts)
    t = F.trim(_c(hhmm))
    padded = F.when(F.length(t) == 3, F.concat(F.lit("0"), t)).otherwise(t)
    hour = F.substring(padded, 1, 2).try_cast("int")
    minute = F.substr(padded, F.lit(3)).try_cast("int")
    valid = t.rlike(r"^\d{3,}$") & (hour <= 23) & (minute.isNotNull()) & (minute <= 59)
    return F.when(
        valid,
        F.make_timestamp(
            F.year(ts), F.month(ts), F.dayofmonth(ts), hour, minute, F.lit(0)
        ),
    ).otherwise(ts)


def event_time(base_ts: ColumnOrName, time_str: ColumnOrName) -> Column:
    """Resolve event time (transform.go:118-129).

    '' → Kafka timestamp; strict RFC-3339 parse if valid; else HHMM+base
    date. The RFC3339 path is regex-gated so Spark's lenient cast cannot
    accept strings Go would reject (e.g. bare dates).
    """
    ts = _c(base_ts)
    t = F.trim(_c(time_str))
    rfc = F.when(t.rlike(RFC3339_RE), t.try_cast("timestamp"))
    return (
        F.when(t == "", ts)
        .otherwise(F.coalesce(rfc, parse_hhmm(ts, t)))
    )


def fmt_g(col: ColumnOrName) -> Column:
    """Go ``%g`` float formatting: shortest round-trip representation.

    transform.go:135 feeds magnitude through %g in the ID hash input:
    125→"125", 1.25→"1.25", 0→"0", 2.5→"2.5". Integral values print with no
    decimal point; non-integral print shortest decimal (Java's shortest-
    round-trip Double.toString matches Go for the plain-decimal range).
    Documented limitation: Go switches to exponent notation at |x|≥1e21 /
    exp<-4, Java at ≥1e7 / <1e-3 — storm magnitudes (0..300) never reach
    either, and the unit test pins the full fixture magnitude domain.
    """
    c = _c(col)
    return F.when(
        (c == F.floor(c)) & (F.abs(c) < F.lit(1e15)),
        c.cast("long").cast("string"),
    ).otherwise(c.cast("string"))


def event_id(
    event_type: ColumnOrName,
    state: ColumnOrName,
    lat: ColumnOrName,
    lon: ColumnOrName,
    time_str: ColumnOrName,
    magnitude: ColumnOrName,
) -> Column:
    """Deterministic event ID (transform.go:134-142).

    sha256("type|state|%.4f(lat)|%.4f(lon)|time|%g(mag)"), first 8 bytes hex
    (16 hex chars), prefixed "{type}-" unless type is ''. Parity notes: uses
    the RAW event type (ID is computed in ParseRawEvent, before
    normalization), the RAW time string (pre-parse), and the RAW magnitude
    (pre-hundredths-normalization) — transform.go:34-38.
    """
    et = _c(event_type)
    payload = F.concat_ws(
        "|",
        et,
        _c(state),
        F.format_string("%.4f", _c(lat)),
        F.format_string("%.4f", _c(lon)),
        _c(time_str),
        fmt_g(magnitude),
    )
    short = F.substring(F.sha2(payload, 256), 1, 16)
    return F.when(et == "", short).otherwise(F.concat(et, F.lit("-"), short))


def normalize_event_type(col: ColumnOrName) -> Column:
    """Exact-match whitelist {hail,wind,tornado} else '' — no case folding,
    no trim ("HAIL"→'', "  hail "→''). transform.go:166-173."""
    c = _c(col)
    return F.when(c.isin("hail", "wind", "tornado"), c).otherwise(F.lit(""))


def normalize_unit(event_type_norm: ColumnOrName, unit: ColumnOrName) -> Column:
    """lower(trim(unit)) if non-empty, else default by NORMALIZED type:
    hail→in, wind→mph, tornado→f_scale, other→''. transform.go:177-193."""
    u = F.lower(F.trim(_c(unit)))
    et = _c(event_type_norm)
    return F.when(u != "", u).otherwise(
        F.when(et == "hail", F.lit("in"))
        .when(et == "wind", F.lit("mph"))
        .when(et == "tornado", F.lit("f_scale"))
        .otherwise(F.lit(""))
    )


def normalize_magnitude(
    event_type_norm: ColumnOrName,
    magnitude: ColumnOrName,
    unit_norm: ColumnOrName,
) -> Column:
    """Legacy hundredths-of-inch fix: hail ∧ unit=='in' ∧ mag≥10 → mag/100;
    0 stays 0. transform.go:200-208."""
    mag = _c(magnitude)
    return F.when(
        (mag != 0.0) & (_c(event_type_norm) == "hail") & (_c(unit_norm) == "in") & (mag >= 10.0),
        mag / 100.0,
    ).otherwise(mag)


def derive_severity(event_type_norm: ColumnOrName, magnitude_norm: ColumnOrName) -> Column:
    """Four-level severity from NWS/EF thresholds; NULL when magnitude==0 or
    type unrecognized. transform.go:218-262. Exact boundaries: hail
    0.75→moderate, 1.5→severe, 2.5→extreme; wind 50→moderate, 74→severe,
    96→extreme; tornado ≤1 minor, ==2 moderate, ≤4 severe (so 1.5 and 2.5
    → severe), else extreme."""
    et = _c(event_type_norm)
    m = _c(magnitude_norm)
    hail = (
        F.when(m < 0.75, "minor")
        .when(m < 1.5, "moderate")
        .when(m < 2.5, "severe")
        .otherwise("extreme")
    )
    wind = (
        F.when(m < 50.0, "minor")
        .when(m < 74.0, "moderate")
        .when(m < 96.0, "severe")
        .otherwise("extreme")
    )
    tornado = (
        F.when(m <= 1.0, "minor")
        .when(m == 2.0, "moderate")
        .when(m <= 4.0, "severe")
        .otherwise("extreme")
    )
    return F.when(m == 0.0, F.lit(None).cast("string")).otherwise(
        F.when(et == "hail", hail)
        .when(et == "wind", wind)
        .when(et == "tornado", tornado)
        .otherwise(F.lit(None).cast("string"))
    )


def extract_source_office(comments: ColumnOrName) -> Column:
    """NWS office code in parens at end of trimmed comments, else ''.

    transform.go:266-278. Spark regexp_extract returns '' on no-match, which
    is exactly the reference's no-match sentinel.
    """
    return F.regexp_extract(F.trim(_c(comments)), SOURCE_OFFICE_RE, 1)


def time_bucket(event_time_col: ColumnOrName) -> Column:
    """Truncate event time to the hour, UTC (session TZ is pinned UTC).
    transform.go:309-315; zero time → NULL propagates naturally."""
    return F.date_trunc("hour", _c(event_time_col))


#: The poison-pill split's bookkeeping columns: the validity flag and the
#: original envelope row packed in one struct. The streaming plan
#: (streaming/pipeline.py) adds them; `parse_raw_events` keeps `_envelope`,
#: and `enrich_raw` keeps both because it passes through every column it
#: does not read, so one plan feeds both the event sink and the dead-letter
#: replay. Batch inputs never have them.
SPLIT_COLS = ("_valid", "_envelope")


def _parse_json(value: Column) -> Column:
    """The envelope value parsed as a RAW_SCHEMA JSON object, with a
    `_corrupt` field set for malformed input (PERMISSIVE from_json returns
    an all-null struct, not NULL, so the corrupt field is the marker)."""
    parse_schema = T.StructType(
        [*RAW_SCHEMA.fields, T.StructField("_corrupt", T.StringType())]
    )
    return F.from_json(
        value.cast("string"),
        parse_schema,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
    )


def json_valid(value_col: ColumnOrName = "value") -> Column:
    """Predicate: the envelope value parses as a RAW_SCHEMA JSON object.
    Applied to the raw envelope it selects the poison-pill rows' complement
    without materializing the parse twice (Catalyst dedups the from_json)."""
    parsed = _parse_json(_c(value_col))
    return parsed.isNotNull() & parsed["_corrupt"].isNull()


def parse_raw_events(df: DataFrame) -> DataFrame:
    """ParseRawEvent (transform.go:26-48) over an envelope DataFrame.

    Expects Kafka-envelope columns (`value` binary/string JSON, `timestamp`).
    Malformed JSON → `_valid = false` (the poison-pill marker — callers route
    invalid rows to the dead-letter path, ST3). Spark's PERMISSIVE from_json
    returns an all-null struct (not a NULL struct) for malformed input, so a
    bare isNotNull misses poison pills — we detect them via a
    columnNameOfCorruptRecord field instead. Unknown JSON keys are dropped
    and missing keys are NULL, matching json.Unmarshal. An `_envelope`
    column (see SPLIT_COLS) passes through.

    from_json yields NULL (not '') for missing/null string fields, while Go
    unmarshals into zero-value "" — so every raw field is coalesced to ''.
    """
    out = df.withColumn("parsed", _parse_json(F.col("value")))
    raw_cols = [
        F.coalesce(F.col(f"parsed.{f.name}"), F.lit("")).alias(f.name)
        for f in RAW_SCHEMA.fields
    ]
    valid = F.col("parsed").isNotNull() & F.col("parsed._corrupt").isNull()
    return out.select(
        valid.alias("_valid"),
        F.col("timestamp").alias("_base_ts"),
        *raw_cols,
        *(["_envelope"] if "_envelope" in df.columns else []),
    )


def enrich_raw(df: DataFrame, processed_at: str | None = None) -> DataFrame:
    """Full ParseRawEvent + EnrichStormEvent as ONE declarative select.

    Input: a DataFrame with the 11 RAW_SCHEMA string columns plus the
    `_base_ts` timestamp (Kafka message time / fixture base date). Output:
    the nested EVENT_SCHEMA layout (transform.go:37-47,148-161).

    ``processed_at``: ISO timestamp string to freeze the clock (genmock
    pattern, cmd/genmock/main.go:60-64); None → current_timestamp().
    Catalyst fuses all of this into a single WholeStageCodegen stage — no
    shuffle, no UDF, scales linearly with input splits.

    The intermediates (raw magnitude, normalized type/unit/magnitude, event
    time) are materialized as staged columns rather than inlined Column
    trees. Inlining duplicates each when-chain into every consumer branch
    (derive_severity alone would carry ~7 copies of the magnitude chain),
    and codegen subexpression elimination does not reach into conditional
    branches — measured 2.3× slower than this staged form at sf0.1.
    CollapseProject keeps the stages intact because the aliases are
    non-cheap and multi-referenced.

    Pass-through rule: every input column it does not read (anything but
    the RAW_SCHEMA fields and `_base_ts`: a row key, the streaming plan's
    SPLIT_COLS) leads the output unchanged, in input order, ahead of the
    EVENT_SCHEMA columns. An input with only raw columns yields exactly
    EVENT_SCHEMA.
    """
    # All reference time math is UTC (transform.go:108-111,313): HHMM
    # expansion, RFC-3339 parse, and hourly buckets silently shift under a
    # non-UTC session (observed: a 4-hour offset under America/New_York).
    # Pin it here so every caller — CLI, streaming, the driver's own
    # session — gets reference semantics.
    df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
    read_cols = {*RAW_SCHEMA.fieldNames(), "_base_ts"}
    staged = df.withColumns(
        {
            "_lat": parse_float_or_zero("Lat"),
            "_lon": parse_float_or_zero("Lon"),
            "_raw_mag": magnitude_raw("EventType", "Size", "F_Scale", "Speed"),
            "_et_norm": normalize_event_type("EventType"),
            "_etime": event_time("_base_ts", "Time"),
            # location parse staging: one trim + one regex-match per row;
            # the three field extracts below branch on the staged flag
            # instead of each re-running the match (6 regex evals → 4)
            "_loc_t": F.trim(F.col("Location")),
        }
    )
    staged = staged.withColumn("_loc_m", F.col("_loc_t").rlike(LOCATION_RE))
    # Raw input had no unit field — unit derives purely from normalized type.
    staged = staged.withColumn("_unit", normalize_unit("_et_norm", F.lit("")))
    staged = staged.withColumn(
        "_mag", normalize_magnitude("_et_norm", "_raw_mag", "_unit")
    )
    proc = (
        F.lit(processed_at).cast("timestamp")
        if processed_at is not None
        else F.current_timestamp()
    )

    return staged.select(
        *[c for c in df.columns if c not in read_cols],
        event_id("EventType", "State", "_lat", "_lon", "Time", "_raw_mag").alias("id"),
        F.col("_et_norm").alias("event_type"),
        F.struct(F.col("_lat").alias("lat"), F.col("_lon").alias("lon")).alias("geo"),
        F.struct(
            F.col("_mag").alias("magnitude"),
            F.col("_unit").alias("unit"),
            derive_severity("_et_norm", "_mag").alias("severity"),
        ).alias("measurement"),
        F.col("_etime").alias("event_time"),
        F.struct(
            F.col("Location").alias("raw"),
            F.when(
                F.col("_loc_m"),
                F.trim(F.regexp_extract(F.col("_loc_t"), LOCATION_RE, 3)),
            )
            .otherwise(F.col("_loc_t"))
            .alias("name"),
            F.when(
                F.col("_loc_m"),
                F.regexp_extract(F.col("_loc_t"), LOCATION_RE, 1).cast("double"),
            ).alias("distance"),
            F.when(
                F.col("_loc_m"), F.regexp_extract(F.col("_loc_t"), LOCATION_RE, 2)
            ).alias("direction"),
            F.col("State").alias("state"),
            F.col("County").alias("county"),
        ).alias("location"),
        F.col("Comments").alias("comments"),
        extract_source_office("Comments").alias("source_office"),
        time_bucket("_etime").alias("time_bucket"),
        proc.alias("processed_at"),
    )


def enrich_envelope(df: DataFrame, processed_at: str | None = None) -> DataFrame:
    """Kafka envelope → enriched events (the [core] hot path, P1→P15).

    Malformed-JSON rows are dropped (poison-pill skip, pipeline.go:127-139);
    the streaming pipeline routes them to a dead-letter sink instead.
    """
    parsed = parse_raw_events(df).filter(F.col("_valid")).drop("_valid")
    return enrich_raw(parsed, processed_at=processed_at)
