"""Harvesting: vendor-file ingest with entity resolution (SURVEY.md §3.1,
§2.1 S1; [ref: minerva-harvesting plugins, src/commands/loaddata.rs —
UNVERIFIED [M]]).

Pipeline: parse (schema-declared CSV, no inference) → resolve entity DNs to
ids → align timestamps to the granularity grid → upsert into the trend
store. The entity dimension is broadcast (shuffle-free). A load is several
Spark jobs, not one: `load-data` collects the package's unseen entities,
then the upsert collects its touched buckets, checkpoints the keep-latest
merge and writes it (Spark may split an action into more than one job).

Create-on-miss ids: the reference assigns serial ids from a PG sequence; a
distributed engine can't serialize id assignment through one counter, so
new entities get deterministic content-addressed ids (xxhash64 of the DN,
top bit cleared). Collisions are ~2^-32-improbable at 1e6 entities and the
mapping is reproducible across re-harvests — which serial ids are not.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from minerva_etl_46_spark.functions.timestamps import Granularity, align_end


def read_csv_harvest(spark: SparkSession, path: str, schema: str,
                     timestamp_format: str | None = None) -> DataFrame:
    """S1: schema-declared CSV read (inference is banned in the core path,
    SURVEY.md §1.1)."""
    reader = spark.read.option("header", True)
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    return reader.csv(path, schema=schema)


def read_jsonl_harvest(spark: SparkSession, path: str, schema: str,
                       timestamp_format: str | None = None) -> DataFrame:
    """S1 sibling: schema-declared JSON-lines read (one object per line —
    the other common vendor drop format). Same inference ban as CSV: a
    declared schema keeps types stable across files and lets corrupt rows
    surface instead of silently widening columns (PERMISSIVE mode parks
    them in _corrupt_record when the schema declares it)."""
    reader = spark.read
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    return reader.json(path, schema=schema)


def read_kv_harvest(spark: SparkSession, path: str, fields: dict[str, str],
                    pair_sep: str = r"\|", kv_sep: str = "=",
                    percent_escaped: bool = False) -> DataFrame:
    """S1c: key=value line harvest — the third common vendor drop shape
    (``k1=v1|k2=v2|...`` per line, frequent in telecom element logs).
    Lines parse JVM-side via higher-order functions (no Python, no
    inference — see the duplicate-key paragraph below for why not
    ``str_to_map``);
    ``fields`` declares ``{key: spark_type}`` and missing keys surface as
    NULL rather than shifting columns — the same fail-visible discipline
    as the CSV/JSONL paths. ``pair_sep`` is a REGEX (escape ``|``);
    ``kv_sep`` is a LITERAL string since the r12c duplicate-key rewrite —
    it is concatenated into the ``key=`` prefix match and its length
    feeds the substring offset, so a regex kv_sep (``'\\='``, ``'=+'``)
    would silently match nothing. Vendor k=v wire formats use a fixed
    one-character separator in practice; if a regex kv_sep feed ever
    lands, split each pair on the regex instead of prefix-matching.

    ``percent_escaped``: the k=v wire format cannot carry a raw ``|`` or
    ``=`` inside a value; senders using this harvester's escape
    convention percent-encode ``%`` ``|`` ``=`` as ``%25`` ``%7C``
    ``%3D`` (kv_escape below is the writer half). Decoding happens after
    the pair split, before the cast — still all JVM codegen. NULL fields
    are OMITTED from the line by convention (missing key → NULL), so
    NULL and '' stay distinct (r12 adversarial-trade parity).

    Duplicate keys take LAST-WINS (r12c): vendor logs repeat keys, and
    the obvious ``str_to_map`` parse THROWS on the first duplicate under
    Spark's default EXCEPTION dedup policy — one bad line aborting a
    fleet load is exactly the posture scan_csv_badrows exists to avoid.
    The parse is therefore a per-field HOF pipeline (split → filter by
    ``key=`` prefix → last match → strip prefix), self-contained — no
    global ``spark.sql.mapKeyDedupPolicy`` change — and still
    whole-stage codegen."""
    raw = spark.read.text(path)
    # literal columns, not an F.expr SQL string: the pair separator is a
    # REGEX ('\|'), and SQL string-literal escaping would strip the
    # backslash, turning it into the empty-alternative regex "|" that
    # splits between every character
    parts = F.split(F.col("value"), pair_sep)

    def field(k, t):
        prefix = k + kv_sep
        matches = F.filter(parts, lambda p: p.startswith(F.lit(prefix)))
        # guarded element_at: an absent key is NULL (never an ANSI
        # out-of-bounds error), and -1 takes the LAST occurrence
        v = F.when(
            F.size(matches) > 0,
            F.substring(F.element_at(matches, -1),
                        len(prefix) + 1, 2_000_000_000),
        )
        if percent_escaped:
            v = kv_unescape(v)
        return v.cast(t).alias(k)

    return raw.select(*[field(k, t) for k, t in fields.items()])


def kv_escape(col: Column) -> Column:
    """Writer half of the k=v percent-escape convention: encode ``%``
    first (so decoded text round-trips exactly), then the two structural
    characters ``|`` and ``=``."""
    out = F.replace(col, F.lit("%"), F.lit("%25"))
    out = F.replace(out, F.lit("|"), F.lit("%7C"))
    return F.replace(out, F.lit("="), F.lit("%3D"))


def kv_unescape(col: Column) -> Column:
    """Reader half of kv_escape: structural characters first, ``%25``
    last — the exact inverse composition."""
    out = F.replace(col, F.lit("%7C"), F.lit("|"))
    out = F.replace(out, F.lit("%3D"), F.lit("="))
    return F.replace(out, F.lit("%25"), F.lit("%"))


def read_fixed_width_harvest(
    spark: SparkSession, path: str, fields: list[tuple[str, int, str]],
) -> DataFrame:
    """S1d: fixed-width record harvest — the fourth vendor drop shape
    (mainframe/legacy-switch exports with column-position layouts, no
    delimiters). ``fields`` declares ``[(name, width, spark_type), ...]``
    in record order; each column slices out JVM-side via ``substring`` +
    ``trim`` + declared-type cast (codegen, no Python, no inference).
    Short lines yield NULLs for the missing tail columns (substring past
    the end is empty → trim '' → NULL via nullif) instead of shifting —
    the same fail-visible discipline as the CSV/JSONL/kv paths."""
    raw = spark.read.text(path)
    cols, start = [], 1  # substring() is 1-based
    for name, width, typ in fields:
        sliced = F.trim(F.substring(F.col("value"), start, width))
        cols.append(F.nullif(sliced, F.lit("")).cast(typ).alias(name))
        start += width
    return raw.select(*cols)


def resolve_entities(
    package: DataFrame,
    entities: DataFrame,
    dn_col: str = "dn",
    id_col: str = "entity_id",
    name_col: str = "name",
) -> tuple[DataFrame, DataFrame]:
    """Attach entity ids; mint deterministic ids for unseen DNs.

    Returns (resolved package, new-entities frame to append to the
    directory). entities is broadcast — at 100 TB the package never
    shuffles for resolution."""
    # distinct: concurrent load-data runs may blind-append the same
    # (entity_id, name) row to the directory; dedupe on read so the
    # resolution join never fans out package rows.
    e = entities.select(
        F.col(name_col).alias("__dn"), F.col(id_col).alias("__eid")
    ).distinct()
    joined = package.join(F.broadcast(e), package[dn_col] == F.col("__dn"), "left")
    # NULL dn must RAISE, not resolve: xxhash64(NULL) is the constant
    # seed (42), so every corrupt no-DN row would silently mint the SAME
    # phantom entity and its measurements would aggregate together
    # (r10 review). raise_error keeps the check inside the plan — no
    # extra validation job; quarantine corrupt rows upstream.
    minted = F.when(
        F.col(dn_col).isNull(),
        F.raise_error(F.lit(
            "resolve_entities: NULL dn in harvest package — corrupt rows "
            "must be quarantined upstream, a NULL cannot name an entity")),
    ).otherwise(
        F.shiftrightunsigned(F.xxhash64(F.col(dn_col)), 1)
    ).cast("long")
    resolved = joined.withColumn(
        id_col, F.coalesce(F.col("__eid"), minted)
    ).drop("__dn", "__eid")
    # unseen DNs = rows the FIRST join already marked (__eid NULL) — a
    # second anti-join against the directory would re-run a broadcast
    # join and a full pass over the package lineage for a fact the plan
    # already holds (r10 review)
    new_entities = (
        joined.filter(F.col("__eid").isNull())
        .select(minted.alias(id_col), F.col(dn_col).alias(name_col))
        .distinct()
    )
    return resolved, new_entities


def align_package(df: DataFrame, ts_col: str, g: Granularity, tz: str = "UTC") -> DataFrame:
    """Minerva timestamp convention: period END on the granularity grid
    (SURVEY.md §1.2)."""
    return df.withColumn(ts_col, align_end(ts_col, g, tz))
