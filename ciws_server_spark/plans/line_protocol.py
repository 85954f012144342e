"""InfluxDB line-protocol parser — the write-path text format the
reference's tsdb dependency speaks (SURVEY.md §2 S8: the reference
writes batched line protocol via the client library,
``transfer_manager.py:123-164``; this module accepts the same format
as TEXT, so a line-protocol feed can land directly in the engine's
partitioned tables).

Format (one point per line)::

    measurement[,tag=v[,tag=v...]] field=v[,field=v...] [unix_ns]

Everything is parsed with native column functions — no Python UDF in
the path, so a large backfill of .lp files never leaves the JVM. The
string work (``split``/``replace``/``rlike``) is codegen'd; the
array lambdas (``transform``/``filter``/``exists``/``forall``) are
interpreted, so the parse is STAGED: a short chain of selects over
named intermediates (the masked split line; head / field set /
timestamp; the pair arrays; the entry arrays; the maps). Each
intermediate is read more than once by the next stage, so Catalyst
keeps the stages as separate projections and computes each one once
per row. Folded back into one expression tree, the masked line would
be rebuilt at every use site and the entry array once per element of
the dedup scan — about 6× the per-line cost. Keep the stages apart:

1. escape handling: the three escapable characters in identifiers
   (``\\,`` ``\\ `` ``\\=``) are swapped to private-use sentinels
   first, so the structural splits below are plain ``split()`` calls;
   sentinels are swapped back after splitting (one ``translate``);
2. the line splits into measurement+tags / fields / optional
   timestamp on unescaped spaces;
3. tags and fields become ``MAP<STRING,STRING>`` (key/value split on
   the first ``=``, as ``str_to_map`` does);
4. field VALUES keep line-protocol typing in the raw map;
   ``typed_fields`` projects one measurement's fields to typed
   columns: ``123i`` → bigint, ``"quoted"`` → string,
   ``true/false`` → boolean, bare numbers → double
   (``field_type`` names the type a raw value's syntax implies).

Timestamps are nanoseconds since epoch (InfluxDB default); absent
timestamps stay null (the caller stamps arrival time, as the server
would). Malformed lines (no field set) yield null maps rather than
poisoning the batch — route them to quarantine with
``where(fields IS NULL)``, mirroring the CSV quarantine path. A
duplicated tag/field key within one line keeps the LAST value
(InfluxDB server behavior) instead of tripping Spark's default
``mapKeyDedupPolicy=EXCEPTION``.

String field values may contain spaces, commas, equals signs, and
escaped quotes (``\\"``): a quote-aware masking pass (split on the
quote character; odd slots are in-string) neutralizes structural
characters inside quoted values before the structural splits — still
native column functions end to end.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Private-use sentinels (U+E000-F8FF, never real line content): the
#: three identifier escapes, the escaped double quote, and the
#: structural characters when they appear INSIDE quoted string values.
_ESC = [("\\,", ""), ("\\ ", ""), ("\\=", "")]
_Q_ESC = ""  # \" inside a quoted string value
_IN = [(" ", ""), (",", ""), ("=", "")]  # inside quotes
#: every sentinel → the one character it stands for
_SENTINELS = "".join(d for _, d in _ESC + _IN) + _Q_ESC
_PLAIN = "".join(s[-1] for s, _ in _ESC + _IN) + '"'


def _mask(col: Column) -> Column:
    for src, dst in _ESC:
        col = F.replace(col, F.lit(src), F.lit(dst))
    return col


def _mask_quoted(col: Column) -> Column:
    """Neutralize structural characters inside double-quoted string
    field values: swap ``\\"`` to a sentinel, split on ``"`` (odd
    array slots are inside quotes), mask space/comma/equals there, and
    rejoin with ``"`` (element count preserves the quote count). All
    native functions — split + transform + concat_ws."""
    col = F.replace(col, F.lit('\\"'), F.lit(_Q_ESC))
    arr = F.split(col, '"', -1)
    in_from = "".join(s for s, _ in _IN)
    in_to = "".join(d for _, d in _IN)

    def fix(x, i):
        return F.when(i % 2 == 1, F.translate(x, in_from, in_to)).otherwise(x)

    return F.concat_ws('"', F.transform(arr, fix))


def _unmask(col: Column) -> Column:
    # every sentinel maps to ONE character: a single translate pass
    return F.translate(col, _SENTINELS, _PLAIN)


def _entries(pairs: Column) -> Column:
    """``k=v`` pair strings → array<struct<key, value>>: key/value
    split on the FIRST ``=`` (str_to_map semantics); a pair with no
    ``=`` gets a null value."""
    return F.transform(
        pairs,
        lambda kv: F.struct(
            _unmask(F.substring_index(kv, "=", 1)).alias("key"),
            _unmask(
                F.when(kv.contains("="), F.regexp_replace(kv, "^[^=]*=", ""))
            ).alias("value"),
        ),
    )


def _last_wins_map(entries: Column) -> Column:
    """Entries → map, keeping the LAST value of a repeated key (the
    InfluxDB server's rule). Spark's default
    ``mapKeyDedupPolicy=EXCEPTION`` would throw at runtime on one bad
    line ('m f=1,f=2') and poison the whole batch. The per-element
    ``exists`` scan is O(pairs²) on arrays of a handful of elements;
    ``entries`` must be a column computed in an EARLIER select, or the
    scan would rebuild the whole array once per element."""
    deduped = F.filter(
        entries,
        lambda e, i: ~F.exists(
            F.slice(entries, i + F.lit(2), F.size(entries)),
            lambda later: later["key"] == e["key"],
        ),
    )
    return F.map_from_entries(deduped)


@functools.cache
def _stages() -> tuple[tuple[Column, ...], ...]:
    """The parse's five projections, without the pass-through columns
    (module docstring). Built once per process: assembling them takes
    about a thousand JVM round trips, which would cost a small write
    more than its parse."""
    parts = F.col("_parts")
    n = F.size(parts)
    head = F.col("_head")
    # a valid line: EVERY field pair (and every tag pair, when tags
    # are present) is key=value with a non-empty key and value — a
    # half-malformed set ('w=1,,x' or ',host=h1') is the whole line
    # rejected, as upstream's parser does. (Wire-fuzz-found, r12: a
    # keyless fragment minted a field named '9.568' whose column
    # reference later crashed the write path.)
    _pair_ok = lambda kv: kv.rlike("^[^=]+=.+$")  # noqa: E731
    field_pairs, tag_pairs = F.col("_field_pairs"), F.col("_tag_pairs")
    return (
        # 1. the masked line, split on unescaped spaces
        (F.split(_mask(_mask_quoted(F.col("_raw"))), " ").alias("_parts"),),
        # 2. measurement+tags / field set / optional timestamp (digits,
        #    possibly negative)
        (
            F.element_at(parts, 1).alias("_head"),
            F.when(n >= 2, F.element_at(parts, 2)).alias("_field_str"),
            F.when(
                (n >= 3) & F.element_at(parts, 3).rlike("^-?\\d+$"),
                F.element_at(parts, 3),
            ).alias("_ts_str"),
        ),
        # 3. measurement, the pair arrays, the timestamp
        (
            _unmask(F.substring_index(head, ",", 1)).alias("measurement"),
            F.when(
                head.contains(","),
                F.split(F.regexp_replace(head, "^[^,]*,", ""), ","),
            ).alias("_tag_pairs"),
            F.split("_field_str", ",").alias("_field_pairs"),
            F.timestamp_micros(
                (F.col("_ts_str").cast("decimal(38,0)") / 1000).cast("long")
            ).alias("ts"),
        ),
        # 4. line validity and the key/value entry arrays
        (
            F.col("measurement"),
            F.col("ts"),
            (
                field_pairs.isNotNull()
                & F.forall(field_pairs, _pair_ok)
                & (tag_pairs.isNull() | F.forall(tag_pairs, _pair_ok))
            ).alias("_ok"),
            _entries(tag_pairs).alias("_tag_entries"),
            _entries(field_pairs).alias("_field_entries"),
        ),
        # 5. the maps
        (
            F.col("measurement"),
            _last_wins_map(F.col("_tag_entries")).alias("tags"),
            F.when(
                F.col("_ok"), _last_wins_map(F.col("_field_entries"))
            ).alias("fields"),
            F.col("ts"),
            F.col("_raw").alias("raw_line"),
        ),
    )


def parse_lines(lines: DataFrame, col: str = "value") -> DataFrame:
    """Parse a frame of raw line-protocol strings.

    Returns (measurement STRING, tags MAP, fields MAP (raw string
    values), ts TIMESTAMP) — one row per input line. Comment lines
    (``#``) and blank lines are dropped. Any other columns of
    ``lines`` (e.g. a ``src_file`` from ``_metadata``) pass through
    unchanged.

    The parse is a chain of selects over named intermediates (module
    docstring): each stage reads the previous stage's columns more
    than once, so Catalyst keeps them as separate projections and
    every intermediate is computed once per row.
    """
    passthrough = [c for c in lines.columns if c != col]
    keep = ["_raw", *passthrough]
    masked_split, heads, pairs, entries, maps = _stages()
    return (
        lines.select(F.col(col).alias("_raw"), *passthrough)
        .where(
            F.col("_raw").isNotNull()
            & (F.trim("_raw") != "")
            & ~F.col("_raw").startswith("#")
        )
        .select(*keep, *masked_split)
        .select(*keep, *heads)
        .select(*keep, *pairs)
        .select(*keep, *entries)
        .select(*maps, *passthrough)
    )


def render_lines(
    df: DataFrame,
    measurement: str,
    tag_cols: list[str],
    field_cols: list[str],
    time_col: str = "time",
) -> DataFrame:
    """The REVERSE of ``parse_lines``: render typed rows as
    line-protocol text (one string column ``line``) — the export
    format an InfluxDB consumer can ingest directly. Identifier
    escaping mirrors the parser (``\\,`` ``\\ `` ``\\=``); string
    field values are double-quoted, bigints get the ``i`` suffix,
    timestamps are emitted as integer nanoseconds. All native column
    functions — export is scan-bound.
    """

    def esc(c: Column) -> Column:
        for ch in (",", " ", "="):
            c = F.replace(c, F.lit(ch), F.lit("\\" + ch))
        return c

    def esc_name(name: str) -> str:
        for ch in (",", " ", "="):
            name = name.replace(ch, "\\" + ch)
        return name

    dtypes = dict(df.dtypes)
    head = F.lit(measurement.replace(",", "\\,").replace(" ", "\\ "))
    for t in tag_cols:
        # a null tag value must drop just that tag pair, not null the
        # whole concat'd head (InfluxDB tags are optional per point)
        head = F.concat(
            head,
            F.coalesce(
                F.concat(F.lit("," + esc_name(t) + "="), esc(F.col(t))),
                F.lit(""),
            ),
        )
    parts = []
    for fc in field_cols:
        ftype = dtypes[fc].split("(")[0]
        if ftype == "string":
            v = F.concat(
                F.lit('"'),
                F.replace(F.col(fc), F.lit('"'), F.lit('\\"')),
                F.lit('"'),
            )
        elif ftype in ("bigint", "int", "smallint", "tinyint"):
            v = F.concat(F.col(fc).cast("string"), F.lit("i"))
        elif ftype == "boolean":
            v = F.when(F.col(fc), F.lit("true")).otherwise(F.lit("false"))
        else:
            v = F.col(fc).cast("string")
        parts.append(F.concat(F.lit(esc_name(fc) + "="), v))
    body = F.concat_ws(",", *parts)
    ns = (F.unix_micros(F.col(time_col)) * F.lit(1000)).cast("string")
    # a row with every field value null would render an empty body
    # ('head  ns', unparseable); a point with no field set is invalid
    # line protocol, so such rows are dropped from the export
    return df.select(
        F.concat_ws(" ", head, body, ns).alias("line"), body.alias("_body")
    ).where(F.col("_body") != "").select("line")


def field_type(raw: Column) -> Column:
    """The line-protocol type a raw field value's syntax implies:
    ``10i`` → ``integer``, ``"…"`` → ``string``, ``t``/``true``/``f``/
    ``false`` (any case) → ``boolean``, anything else → ``float`` —
    the names ``typed_fields`` takes."""
    return (
        F.when(raw.rlike(r"^-?\d+i$"), "integer")
        .when(raw.rlike(r'^".*"$'), "string")
        .when(F.lower(raw).isin("t", "true", "f", "false"), "boolean")
        .otherwise("float")
    )


def typed_fields(
    parsed: DataFrame, measurement: str, fields: dict[str, str]
) -> DataFrame:
    """Project one measurement's raw field map to typed columns.

    ``fields`` maps field name → line-protocol type (``float`` |
    ``integer`` | ``string`` | ``boolean``). Uses ``try_``-style
    conversion throughout (ANSI-safe on malformed values → null).
    """
    out = parsed.where(F.col("measurement") == measurement)
    cols = [F.col("measurement"), F.col("tags"), F.col("ts")]
    for name, ftype in fields.items():
        raw = F.col("fields")[name]
        if ftype == "integer":
            c = F.when(
                raw.rlike("^-?\\d+i$"),
                F.expr(
                    f"try_cast(rtrim('i', fields['{name}']) AS BIGINT)"
                ),
            )
        elif ftype == "string":
            c = F.when(
                raw.rlike('^".*"$'),
                F.regexp_replace(
                    F.regexp_extract(raw, '^"(.*)"$', 1), '\\\\"', '"'
                ),
            )
        elif ftype == "boolean":
            c = F.when(
                F.lower(raw).isin("t", "true", "f", "false"),
                F.lower(raw).isin("t", "true"),
            )
        else:  # float
            c = F.when(
                ~raw.endswith("i"),
                F.expr(f"try_cast(fields['{name}'] AS DOUBLE)"),
            )
        cols.append(c.alias(name))
    return out.select(*cols)
