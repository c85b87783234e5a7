"""RFC3339 datetime parity functions (SURVEY.md section 2.8).

The reference parses date/time/datetime strings with hand-written
regexes (`fiona/rfc3339.py:30-122`), carries the utc-offset in MINUTES
(None = unknown zone), encodes it as an OGR 15-minute tz code
(``int(offset/15 + 100)``, 0 = unknown — `fiona/ogrext.pyx:480-486`,
`533-547`) and, when a driver can't store timezones, normalizes the
value to GMT on write (`fiona/ogrext.pyx:533-540`; "converting times
with a timezone offset to GMT", `rfc3339.py:2-5`).  Spark equivalents,
all JVM-side regexp/arithmetic — no Python, no UDF:

  * ``parse_datetime_parts``: RFC3339-ish string -> (y, m, d, hh, mm,
    ss, us, tz_min) columns.  Faithful to the reference's regex
    semantics including its quirks: separators optional (compact
    ``20200129T1011`` accepted), seconds optional, a trailing ``Z``
    yields tz_min NULL (the reference only sets an offset when an
    explicit ``+``/``-`` sign group matched — ``parse_time('10:11:12Z')
    == (..., None)`` in `tests/test_rfc3339.py:33-34`), and a bare
    2-digit offset counts as MINUTES (``+05`` -> 5, the regex
    backtracking behavior of ``([+-])?(\\d\\d)?(:)?(\\d\\d)``).
  * ``tz_code``: minutes -> the OGR 15-minute code (0 = unknown).
  * ``to_gmt_timestamp`` / ``format_gmt``: write-side normalization —
    offset-aware values shift to GMT and format with a trailing ``Z``;
    unknown-zone values pass through unshifted with no suffix.
  * ``parse_datetime`` / ``parse_date`` / ``parse_time`` /
    ``format_rfc3339``: the r2 surface, kept.

Fractional seconds: microseconds derive from the DIGITS of the
fraction (exact, ``.42`` -> 420000), where the reference goes through
``int(1e6 * float(frac))`` — equal for up to 6 fractional digits,
which is everything the reference's matrix tests.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Mirrors fiona/rfc3339.py pattern_datetime group structure (translated
# to a single Java regex; regexp_extract uses find() = re.search).
# Groups: 1 y, 3 m, 5 d, 7 hh, 9 mm, 11 ss, 12 frac,
#         13 tz-all, 14 sign, 15 tz-a, 17 tz-b.
DT_RX = (r"(\d{4})(-)?(\d{2})(-)?(\d{2})(T)?(\d{2})(:)?(\d{2})(:)?"
         r"(\d{2})?(\.\d+)?([Zz]|([+-])?(\d{2})?(:)?(\d{2}))?")
# fiona/rfc3339.py pattern_time (groups shifted: no date part)
TIME_RX = (r"(\d{2})(:)?(\d{2})(:)?(\d{2})?(\.\d+)?"
           r"([Zz]|([+-])?(\d{2})?(:)?(\d{2}))?")

TZ_UNKNOWN_CODE = 0


def _int_g(col, rx: str, i: int, default: int | None = 0) -> Column:
    g = F.nullif(F.regexp_extract(col, rx, i), F.lit(""))
    g = g.cast("int")
    return g if default is None else F.coalesce(g, F.lit(default))


def _us_g(col, rx: str, i: int) -> Column:
    """Fraction group '.42' -> exact microseconds 420000 (digit pad)."""
    digits = F.substring(F.regexp_extract(col, rx, i), 2, 6)
    return F.coalesce(F.nullif(F.rpad(digits, 6, "0"), F.lit(""))
                      .cast("int"), F.lit(0))


def _tz_min(col, rx: str, sign_i: int, a_i: int, b_i: int) -> Column:
    """Offset minutes, NULL = unknown zone.  Reference semantics: set
    only when the sign group matched ('Z' alone -> unknown); '+05'
    backtracks to minutes-only."""
    sign = F.regexp_extract(col, rx, sign_i)
    hours = _int_g(col, rx, a_i)
    mins = _int_g(col, rx, b_i)
    mag = hours * 60 + mins
    return (F.when(sign == "-", -mag)
            .when(sign == "+", mag)
            .otherwise(F.lit(None).cast("int")))


def parse_datetime_parts(col) -> Column:
    """RFC3339-ish datetime string -> struct(y, m, d, hh, mm, ss, us,
    tz_min); tz_min NULL = unknown zone (reference tuple layout,
    `fiona/rfc3339.py:89-122`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.struct(
        _int_g(c, DT_RX, 1).alias("y"),
        _int_g(c, DT_RX, 3).alias("m"),
        _int_g(c, DT_RX, 5).alias("d"),
        _int_g(c, DT_RX, 7).alias("hh"),
        _int_g(c, DT_RX, 9).alias("mm"),
        _int_g(c, DT_RX, 11).alias("ss"),
        _us_g(c, DT_RX, 12).alias("us"),
        _tz_min(c, DT_RX, 14, 15, 17).alias("tz_min"))


def parse_time_parts(col) -> Column:
    """Time-of-day string -> struct(hh, mm, ss, us, tz_min)
    (`fiona/rfc3339.py:30-63`; '10:11' -> hh=10, mm=11)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.struct(
        _int_g(c, TIME_RX, 1).alias("hh"),
        _int_g(c, TIME_RX, 3).alias("mm"),
        _int_g(c, TIME_RX, 5).alias("ss"),
        _us_g(c, TIME_RX, 6).alias("us"),
        _tz_min(c, TIME_RX, 8, 9, 11).alias("tz_min"))


def tz_code(tz_min: Column) -> Column:
    """Offset minutes -> OGR 15-minute tz code: 100 = GMT, 101 =
    GMT+15min, 99 = GMT-15min, 0 = unknown (`fiona/ogrext.pyx:480-486`:
    ``int(tz / 15.0 + 100)``; int() truncates toward zero)."""
    code = (tz_min.cast("double") / 15.0 + 100.0).cast("int")
    return F.coalesce(code, F.lit(TZ_UNKNOWN_CODE))


def tz_minutes_from_code(code: Column) -> Column:
    """Inverse: code -> minutes, NULL for unknown/local (codes 0/1)
    (`fiona/ogrext.pyx:450-454`: ``tz_minutes = (tz - 100) * 15`` for
    code > 1)."""
    return F.when(code > 1, (code - 100) * 15).otherwise(
        F.lit(None).cast("int"))


def _parts_ts(parts: Column) -> Column:
    """parts struct -> session-TZ-free timestamp of the LOCAL fields."""
    return F.make_timestamp(
        parts["y"], parts["m"], parts["d"], parts["hh"], parts["mm"],
        parts["ss"].cast("double")
        + parts["us"].cast("double") / 1000000.0)


def to_gmt_timestamp(parts: Column) -> Column:
    """Write-side GMT normalization (`fiona/ogrext.pyx:533-540`):
    offset-aware values shift by -tz_min; unknown-zone values pass
    through unshifted (the reference writes them with the unknown
    zone marker)."""
    ts = _parts_ts(parts)
    shift = F.coalesce(parts["tz_min"], F.lit(0))
    return ts - F.make_interval(mins=shift)


def format_gmt(parts: Column) -> Column:
    """The reference's write normalization as text: tz-aware ->
    GMT-shifted with 'Z' suffix, unknown zone -> as-is, no suffix
    (`fiona/rfc3339.py:2-5`)."""
    ts = to_gmt_timestamp(parts)
    base = F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss")
    frac = F.when(parts["us"] > 0,
                  F.concat(F.lit("."), F.lpad(parts["us"], 6, "0"))
                  ).otherwise(F.lit(""))
    z = F.when(parts["tz_min"].isNotNull(), F.lit("Z")).otherwise(F.lit(""))
    return F.concat(base, frac, z)


# ---------------------------------------------------------------------------
# r2 surface (kept): direct string -> Spark timestamp/date helpers
# ---------------------------------------------------------------------------

def _norm(col) -> Column:
    c = F.regexp_replace(col, "[Tt]", " ")
    return F.regexp_replace(c, "[Zz]$", "+00:00")


def parse_datetime(col) -> Column:
    """RFC3339 datetime string -> UTC timestamp (tz-offsets applied)."""
    return F.to_timestamp(_norm(col))


def parse_date(col) -> Column:
    return F.to_date(col)


def parse_time(col) -> Column:
    """Time-of-day strings stay strings (Spark has no TimeType); output
    is canonical HH:mm:ss[.ffffff] with any offset folded to UTC by
    anchoring on the epoch date."""
    ts = F.to_timestamp(F.concat(F.lit("1970-01-01 "), _norm(col)))
    return F.date_format(ts, "HH:mm:ss.SSSSSS")


def format_rfc3339(col, kind: str = "datetime") -> Column:
    """Timestamp/date -> RFC3339 text as the reference writes it
    (GMT-normalized, 'T' separator for datetimes)."""
    if kind == "datetime":
        return F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    if kind == "date":
        return F.date_format(col, "yyyy-MM-dd")
    raise ValueError(f"unknown kind {kind!r}")
