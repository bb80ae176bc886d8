"""Content scrubbing for training corpora: PII redaction/auditing and
URL/domain extraction + filtering.

Everything is Catalyst built-ins (``regexp_replace`` / ``regexp_count`` /
``regexp_extract_all``) — JVM-side, whole-stage-codegen'd, zero Python in
the hot path — so a 100 TB scrub pass is a single narrow projection over
the scan: no shuffle, no UDF worker, and Parquet column pruning still
applies because only the text column is touched.

PII patterns are deliberately conservative heuristics (the standard
pre-tokenization pass, not a compliance guarantee): every pattern is
anchored with word boundaries / structural separators to keep false
positives on ordinary prose near zero. The regexes avoid backreferences
and lookaround so the same pattern string runs identically under Java
regex (Spark) and RE2 (DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from rasterframes_spark.pipeline.skew import stamp_content_id

__all__ = [
    "canonicalize_url",
    "PII_PATTERNS", "pii_scrub", "pii_counts",
    "extract_urls", "url_domains", "filter_by_domains",
]

# Ordered: more-structured patterns first so e.g. an SSN is not half-eaten
# by the phone pattern. (name, regex, replacement token)
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("credit_card", r"\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b|\b\d{16}\b",
     "<CREDIT_CARD>"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{1,3}[ .-]?\(?\d{2,4}\)?[ .-]?\d{3,4}[ .-]?\d{3,4}\b"
     r"|\(\d{3}\)[ ]?\d{3}[-.]\d{4}\b|\b\d{3}[-.]\d{3}[-.]\d{4}\b",
     "<PHONE>"),
]


def _c(text) -> Column:
    return F.col(text) if isinstance(text, str) else text


def pii_scrub(text, kinds: tuple[str, ...] | None = None) -> Column:
    """Replace PII spans with typed redaction tokens (``<EMAIL>`` …).

    A chain of ``regexp_replace`` calls — one fused codegen'd projection,
    order fixed by ``PII_PATTERNS`` so structured patterns win over the
    looser phone pattern. ``kinds`` restricts to a subset (in canonical
    order regardless of the order given)."""
    want = set(kinds) if kinds is not None else None
    unknown = (want or set()) - {n for n, _, _ in PII_PATTERNS}
    if unknown:
        raise ValueError(f"pii_scrub: unknown kinds {sorted(unknown)}")
    out = _c(text)
    for name, pat, token in PII_PATTERNS:
        if want is None or name in want:
            out = F.regexp_replace(out, pat, token)
    return out


def pii_counts(text) -> Column:
    """Struct of per-kind PII match counts (audit pass: run BEFORE the
    scrub to size the problem; pure ``regexp_count``, no rewrite).

    Counts are taken against the progressively-scrubbed text in pattern
    order — the same spans ``pii_scrub`` would actually replace — so e.g.
    the digits of an SSN are never double-counted by the phone pattern."""
    fields = []
    cur = _c(text)
    for name, pat, token in PII_PATTERNS:
        fields.append(F.regexp_count(cur, F.lit(pat)).alias(name))
        cur = F.regexp_replace(cur, pat, token)
    return F.struct(*fields)


_URL_RE = r"https?://[^\s<>\"')\]]+"


def extract_urls(text) -> Column:
    """``array<string>`` of http(s) URLs in the text."""
    return F.regexp_extract_all(_c(text), F.lit(_URL_RE), 0)


def url_domains(text) -> Column:
    """Distinct lower-cased registrable hosts of every URL in the text
    (port and path stripped)."""
    return F.array_distinct(F.transform(
        extract_urls(text),
        lambda u: F.lower(F.regexp_extract(u, r"https?://([^/\s:?#]+)", 1)),
    ))


def filter_by_domains(df: DataFrame, domains, text_col: str = "text",
                      mode: str = "block") -> DataFrame:
    """Drop (``mode='block'``) or keep-only (``mode='allow'``) documents
    that reference any of ``domains``.

    ``domains`` may be a python list (inlined as an array literal —
    ``arrays_overlap`` in one narrow pass, no join) or a one-column
    DataFrame (big blocklists: explode doc domains → broadcast-able
    left-semi join → flag ids — the corpus itself never shuffles)."""
    if mode not in ("block", "allow"):
        raise ValueError("filter_by_domains: mode must be 'block' or 'allow'")
    doms = url_domains(text_col)
    if not isinstance(domains, DataFrame):
        lits = F.array(*[F.lit(str(d).lower()) for d in domains])
        hit = F.arrays_overlap(doms, lits)
        return df.where(~hit if mode == "block" else hit)
    dcol = domains.columns[0]
    dl = domains.select(F.lower(F.col(dcol)).alias("__key")).distinct()
    out = _flag_matches(df, doms, dl, "__listed")
    keep = ~F.col("__listed") if mode == "block" else F.col("__listed")
    return out.where(keep).drop("__listed")


def _flag_matches(df: DataFrame, keys: Column, table: DataFrame,
                  flag: str) -> DataFrame:
    """``df`` plus a boolean ``flag`` column: whether any element of the
    array ``keys`` is a value of ``table`` (one column, ``__key``,
    distinct and small).  Each row explodes its keys and left-semi joins
    the broadcast table; the hit ids left-join back, so ``df`` itself
    never shuffles.  The ids are content ids (``stamp_content_id``):
    the id expression evaluates in both branches, and identical rows
    sharing an id get the same flag, which is the right answer anyway."""
    ids = ["__rid", "__rid2"]
    with_id = stamp_content_id(df, *ids)
    hits = (with_id.select(*ids, F.explode(keys).alias("__key"))
            .join(F.broadcast(table), "__key", "left_semi")
            .select(*ids).distinct()
            .withColumn("__hit", F.lit(True)))
    return (with_id.join(hits, ids, "left")
            .withColumn(flag, F.coalesce(F.col("__hit"), F.lit(False)))
            .drop(*ids, "__hit"))


_TRACKING_PARAM = (r"^(utm_[a-z]+|fbclid|gclid|gclsrc|dclid|msclkid|"
                   r"mc_eid|mc_cid|igshid|ref|ref_src|spm|_ga)=")


def canonicalize_url(url) -> Column:
    """One canonical form per URL so trivially-different links dedup:
    scheme and host lower-cased, default ports stripped, fragment
    dropped, tracking parameters removed (utm_*, fbclid, gclid, ...),
    remaining query parameters sorted, empty path normalized to '/'.

    Pure Catalyst: ``try_parse_url`` (JVM built-in, NULL on garbage) splits the pieces, array
    HOFs canonicalize the query — no UDF, codegen end to end. NULL in =
    NULL out; a string parse_url can't split returns unchanged (crawls
    contain garbage 'URLs'; dropping belongs to the caller's filter)."""
    u = F.col(url) if isinstance(url, str) else url
    proto = F.lower(F.try_parse_url(u, F.lit("PROTOCOL")))
    host = F.lower(F.try_parse_url(u, F.lit("HOST")))
    path = F.try_parse_url(u, F.lit("PATH"))
    query = F.try_parse_url(u, F.lit("QUERY"))
    # the authority carries the port; keep a non-default one
    auth = F.try_parse_url(u, F.lit("AUTHORITY"))
    port = F.regexp_extract(auth, r":(\d+)$", 1)
    default = ((proto == "http") & (port == "80")) | \
        ((proto == "https") & (port == "443")) | (port == "")
    hostport = F.when(default, host).otherwise(
        F.concat(host, F.lit(":"), port))
    keep_q = F.array_join(F.array_sort(F.filter(
        F.split(query, "&"),
        lambda p: (F.length(p) > 0)
        & ~p.rlike(_TRACKING_PARAM))), "&")
    canon = F.concat(
        proto, F.lit("://"), hostport,
        F.when(F.length(path) > 0, path).otherwise(F.lit("/")),
        F.when(F.length(keep_q) > 0,
               F.concat(F.lit("?"), keep_q)).otherwise(F.lit("")))
    return F.when(proto.isNotNull() & host.isNotNull(), canon).otherwise(u)
