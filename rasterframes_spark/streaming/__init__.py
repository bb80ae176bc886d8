"""Structured Streaming support.

The reference has NO streaming support (SURVEY.md §1.2 — confirmed absent);
this engine gets it nearly free because every scalar operator here is a
stateless column function usable on streaming DataFrames unchanged. This
module adds the streaming-specific glue:

- ``read_tile_stream``: file-source stream of tile-bearing parquet
  (new scenes land in a directory → rows stream out);
- ``windowed_tile_stats``: event-time windowed aggregate of the per-tile
  partial stats with watermarking — the canonical "rolling raster
  statistics" stream;
- ``streaming_dedup``: drop exact duplicates across a stream with
  ``dropDuplicatesWithinWatermark`` (state-bounded).

All rf_* scalar/local functions and the pipeline text/dedup projections
work inside ``readStream`` pipelines as-is (pandas UDFs are supported in
streaming queries); tile-valued *aggregates* need ``applyInPandasWithState``
and are exposed via ``stateful_sessionizer``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = [
    "read_tile_stream", "read_raster_stream", "read_geotiff_stream",
    "read_warc_stream", "windowed_tile_stats",
    "streaming_dedup", "streaming_neardup", "stateful_sessionizer",
]


class _MemSource:
    """In-memory byte source with a ``uri`` identity, so the per-format
    executor caches (grib/netcdf cube cache, jp2 codestream+tile cache)
    key on the FILE VERSION instead of refusing bare bytes — without
    this, every chunk window of a streamed scene would re-decode the
    whole payload, and id()-keyed caching of transient bytes could
    serve a recycled allocation another file's raster (code-review
    r10 #2-1/#2-3)."""

    def __init__(self, data: bytes, uri: str):
        self._d = data
        self.uri = uri

    def read_range(self, off: int, n: int) -> bytes:
        return self._d[off:off + n]

    def size(self) -> int:
        return len(self._d)


_JP2_SIG = b"\x00\x00\x00\x0cjP  \r\n\x87\n"


def _bytes_raster_adapter(data, variable: str | None = None):
    """Magic-sniffed (read_info, read_window) pair for an in-memory
    raster payload — the byte-level mirror of ``read_raster``'s URI
    format dispatch, for streaming sources where ``binaryFile``
    already delivered the whole object.  ``variable`` selects the
    NetCDF variable (the byte-payload analog of the batch reader's
    ``path#var`` subdataset URIs); other formats ignore it."""
    h = bytes(data[:16]) if len(data) >= 16 else bytes(data)
    if h[:4] in (b"II*\x00", b"MM\x00*", b"II+\x00", b"MM\x00+"):
        from rasterframes_spark.sources import geotiff as GT
        return GT.read_info, GT.read_window
    if h[:4] == b"GRIB":                  # editions 1 and 2
        from rasterframes_spark.sources import grib2 as GB
        return GB.read_info, GB.read_window
    if h[:3] == b"CDF" or h[:8] == b"\x89HDF\r\n\x1a\n":
        import functools

        from rasterframes_spark.sources import netcdf as NC
        return (functools.partial(NC.read_info, var=variable),
                functools.partial(NC.read_window, var=variable))
    # JP2 family files ALWAYS begin with the 12-byte jP signature box
    # (ISO 15444-1 I.5.1) — matching bare 'ftyp' would claim MP4/HEIF
    if h[:2] == b"\xFF\x4F" or h[:12] == _JP2_SIG:
        from rasterframes_spark.sources import jp2 as J2
        return J2.read_info, J2.read_window
    raise ValueError("unrecognized raster payload (native streaming "
                     "covers GeoTIFF/BigTIFF, JP2, GRIB 1/2, "
                     "NetCDF-3/4)")


def read_raster_stream(spark: SparkSession, directory: str,
                       tile_dimensions: tuple = (256, 256), band: int = 0,
                       pattern: str = "*",
                       max_files_per_trigger: int | None = None,
                       query_extent: tuple | None = None,
                       on_error: str = "skip",
                       bands: tuple | None = None,
                       variable: str | None = None) -> DataFrame:
    """Continuous raster ingest: watch ``directory`` for new scenes in
    ANY native format — GeoTIFF/BigTIFF, JPEG2000, GRIB (editions 1
    and 2, every native packing), NetCDF-3/NetCDF-4 — and emit
    tile-chunk rows; the streaming counterpart of ``read_raster``'s
    mixed-format catalogs (the reference has no streaming source at
    all; SURVEY §1.2).

    Built on the ``binaryFile`` file-source (so checkpointing, exactly-
    once file tracking, and ``maxFilesPerTrigger`` rate limiting come from
    Spark), with the pure-python codecs decoding each scene's bytes
    inside ``mapInPandas`` — chunking happens where the bytes already
    are, no second read, one task per file batch. Output schema:
    (path, ts, spatial_key{col,row}, extent{xmin..ymax}, crs, tile) —
    with ``bands`` the single tile column becomes one per band, named
    as ``read_raster`` names them.

    Every rf_* scalar works downstream unchanged; combine with
    ``windowed_tile_stats`` for rolling scene statistics.
    ``query_extent`` prunes non-overlapping chunks before their windows
    decode (scene header still parses; pixels of pruned chunks don't).

    ``on_error``: ``'skip'`` (default) drops files that are not
    recognized rasters or fail to decode — ANYWHERE in the per-file
    block, including lazily-decoded chunk bodies behind a valid header
    — because a stray sidecar or corrupt upload in the watched
    directory must not crash-loop the query (the checkpointed file
    source would replay it forever); ``'fail'`` raises instead, for
    directories guaranteed clean.

    ``bands`` mirrors the batch reader's ``band_indexes`` (r11): pass a
    tuple of band indexes and each chunk row carries one tile column
    per band, named like ``read_raster`` names them — ``tile`` for a
    single requested band, ``tile_b{i}`` for several — so a streamed
    multi-field GRIB/NetCDF scene (a GFS cycle is hundreds of fields)
    serves more than band 0.  The scalar ``band`` parameter remains
    the single-band shorthand.  A file with fewer bands than requested
    is an error (skipped under ``on_error='skip'``).  ``variable``
    selects the NetCDF variable for NetCDF-3/4 payloads (the byte-
    payload analog of the batch reader's ``path#var`` URIs); other
    formats ignore it.

    VRT and MRF are EXCLUDED from the streaming sniff by design
    (recorded, VERDICT r10 next #6): a VRT is an XML manifest whose
    pixels live in OTHER files it references, and an MRF is a
    three-file set (.mrf metadata + index + data), so a single
    streamed byte payload cannot carry either format's pixels —
    ingest those through the batch ``read_raster`` catalog path, where
    the dispatch resolves their external references by URI."""
    import numpy as np
    import pandas as pd

    from rasterframes_spark.sources.raster_reader import (
        _celltype_for, iter_chunk_windows)
    from rasterframes_spark.tile import Tile

    if on_error not in ("skip", "fail"):
        raise ValueError("read_raster_stream: on_error must be 'skip' "
                         "or 'fail'")

    tw, th = int(tile_dimensions[0]), int(tile_dimensions[1])
    band_list = [int(b) for b in bands] if bands is not None \
        else [int(band)]
    tile_cols = (["tile"] if len(band_list) == 1
                 else [f"tile_b{b}" for b in band_list])
    bin_schema = ("path string, modificationTime timestamp, "
                  "length long, content binary")
    reader = (spark.readStream.format("binaryFile").schema(bin_schema)
              .option("pathGlobFilter", pattern))
    if max_files_per_trigger is not None:
        if int(max_files_per_trigger) <= 0:
            raise ValueError("read_raster_stream: max_files_per_trigger "
                             "must be positive")
        reader = reader.option("maxFilesPerTrigger",
                               str(int(max_files_per_trigger)))
    src = reader.load(directory).select("path", "modificationTime", "content")

    tile_t = "struct<cell_type:string,cols:int,rows:int,cells:binary>"
    out_schema = (
        "path string, ts timestamp, "
        "spatial_key struct<col:int,row:int>, "
        "extent struct<xmin:double,ymin:double,xmax:double,ymax:double>, "
        "crs string, "
        + ", ".join(f"{c} {tile_t}" for c in tile_cols))

    def decode(batches):
        import logging

        for pdf in batches:
            rows = []
            for path, ts, content in zip(pdf["path"], pdf["modificationTime"],
                                         pdf["content"]):
                src_obj = _MemSource(bytes(content),
                                     f"stream:{path}@{ts}")
                # the WHOLE per-file block sits inside the guard: the
                # header can sniff fine while chunk/tile BYTES are
                # corrupt (GeoTIFF/JP2 decode lazily per window), and a
                # body-stage failure escaping here would crash-loop the
                # checkpointed query — exactly what 'skip' promises to
                # prevent (ADVICE r10 #2)
                file_rows = []
                try:
                    read_info, read_window = _bytes_raster_adapter(
                        src_obj._d, variable)
                    info = read_info(src_obj)
                    ct = _celltype_for(info)
                    if query_extent is not None:
                        qx0, qy0, qx1, qy1 = (float(v)
                                              for v in query_extent)
                    if any(b >= info.bands for b in band_list):
                        raise ValueError(
                            f"read_raster_stream: band {max(band_list)} "
                            f"requested, file has {info.bands}")
                    for c0, r0, w, h, (exmin, eymin, exmax, eymax) in \
                            iter_chunk_windows(info, tw, th):
                        if query_extent is not None and not (
                                exmin < qx1 and exmax > qx0
                                and eymin < qy1 and eymax > qy0):
                            continue
                        row = {
                            "path": path, "ts": ts,
                            "spatial_key": {"col": c0 // tw,
                                            "row": r0 // th},
                            "extent": {"xmin": exmin, "ymax": eymax,
                                       "xmax": exmax, "ymin": eymin},
                            "crs": info.crs,
                        }
                        for col, b in zip(tile_cols, band_list):
                            # Tile.__init__ applies ct.mask_of (==
                            # nodata) to plain arrays — no explicit
                            # masking here
                            arr = read_window(src_obj, info, c0, r0,
                                              w, h, b)
                            row[col] = Tile(arr, ct).to_row()
                        file_rows.append(row)
                except (ValueError, NotImplementedError) as e:
                    if on_error == "fail":
                        raise
                    logging.getLogger("rasterframes_spark.streaming") \
                        .warning("read_raster_stream: skipping %s (%s)",
                                 path, e)
                    continue        # skip: sidecars/corrupt uploads
                rows.extend(file_rows)
            yield pd.DataFrame(rows, columns=[
                "path", "ts", "spatial_key", "extent", "crs",
                *tile_cols])

    return src.mapInPandas(decode, schema=out_schema)


def read_geotiff_stream(spark: SparkSession, directory: str,
                        tile_dimensions: tuple = (256, 256), band: int = 0,
                        pattern: str = "*.tif*",
                        max_files_per_trigger: int | None = None,
                        query_extent: tuple | None = None,
                        on_error: str = "fail") -> DataFrame:
    """GeoTIFF-patterned alias of :func:`read_raster_stream` (kept for
    the original r7 surface; the generic source decodes any native
    format, this one just defaults the glob to ``*.tif*``).

    ``on_error`` defaults to ``'fail'`` — the r7 surface RAISED on a
    malformed GeoTIFF, and the r10 generalization silently changed
    that to dropping the file (ADVICE r10 #4); the alias restores the
    strict semantics and passes the knob through for callers who want
    the crawl-grade ``'skip'``."""
    return read_raster_stream(spark, directory, tile_dimensions, band,
                              pattern, max_files_per_trigger,
                              query_extent, on_error=on_error)


def read_tile_stream(spark: SparkSession, directory: str, schema) -> DataFrame:
    """Stream of parquet files appearing in `directory` (one row per tile)."""
    return spark.readStream.schema(schema).parquet(directory)


def windowed_tile_stats(stream: DataFrame, tile_col: str = "tile",
                        ts_col: str = "ts", window: str = "1 minute",
                        watermark: str = "2 minutes") -> DataFrame:
    """Event-time windowed column stats over a tile stream.

    Uses the same per-tile partial + built-in combine as the batch
    rf_agg_stats, so state per window is O(1) scalars — safe for unbounded
    streams; the watermark bounds late data and state eviction."""
    from rasterframes_spark.functions.aggregates import _partial_udf
    from rasterframes_spark.functions._kernel import col_or_name

    p = _partial_udf(col_or_name(tile_col))
    return (
        stream.withWatermark(ts_col, watermark)
        .select(F.col(ts_col), p.alias("__p"))
        .groupBy(F.window(ts_col, window).alias("window"))
        .agg(
            F.sum("__p.cnt").alias("data_cells"),
            F.sum("__p.nd").alias("no_data_cells"),
            F.min("__p.mn").alias("min"),
            F.max("__p.mx").alias("max"),
            (F.sum("__p.sm") / F.sum("__p.cnt")).alias("mean"),
        )
    )


def streaming_dedup(stream: DataFrame, key_cols: list[str], ts_col: str = "ts",
                    watermark: str = "10 minutes") -> DataFrame:
    """Exact dedup across a stream with bounded state."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


def stateful_sessionizer(stream: DataFrame, key_col: str = "user_id",
                         ts_col: str = "ts", value_col: str = "value",
                         gap_seconds: int = 1800,
                         watermark: str = "30 minutes",
                         timeout: str = "processing") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    session accumulation with a gap timeout — the canonical pattern for
    operators Spark's built-in windowed aggs can't express (per-key mutable
    state + timeout emission). Emits one row per closed session:
    (key, session_start, session_end, n_events, total_value).

    ``timeout``: 'processing' (default) also closes idle sessions after
    ``gap_seconds`` of wall-clock silence — the continuous-stream behavior.
    'none' closes sessions only when a later event arrives past the gap;
    use it for bounded one-shot runs (``Trigger.AvailableNow``), where a
    pending processing-time timer would keep the query alive for the whole
    gap before it could terminate."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    key_type = stream.schema[key_col].dataType.simpleString()
    out_schema = (f"{key_col} {key_type}, session_start timestamp, "
                  "session_end timestamp, n_events long, total_value double")
    state_schema = "start long, last long, n long, total double"

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            (start, last, n, total) = state.get
            state.remove()
            yield pd.DataFrame({
                key_col: [key[0]],
                "session_start": [pd.Timestamp(start, unit="s")],
                "session_end": [pd.Timestamp(last, unit="s")],
                "n_events": [n], "total_value": [total],
            })
            return
        rows = pd.concat(list(pdfs)).sort_values(ts_col)
        ts = rows[ts_col].astype("int64") // 10**9
        vals = rows[value_col].astype("float64")
        if state.exists:
            start, last, n, total = state.get
        else:
            start, last, n, total = 0, 0, 0, 0.0
        closed = []
        # Cross-batch out-of-order events (late but inside the watermark)
        # may arrive with t < last or even t < start: extending the open
        # session keeps start = min / last = max (never move `last`
        # BACKWARD — that split sessions spuriously and emitted
        # session_end < session_start). Events older than the open session
        # by more than the gap form their own already-closed session(s) —
        # accumulated through the `late` chain so ADJACENT late events
        # within the gap of each other merge into ONE session (emitting
        # each as a singleton violated the gap invariant for late-but-in-
        # watermark data).
        late = None  # open accumulator for the pre-session late chain
        for t, v in zip(ts, vals):
            t, v = int(t), float(v)
            if n == 0:
                start, last, n, total = t, t, 1, v
            elif t < start - gap_seconds:
                if late is not None and t - late[1] <= gap_seconds:
                    late = (late[0], t, late[2] + 1, late[3] + v)
                else:
                    if late is not None:
                        closed.append(late)
                    late = (t, t, 1, v)
            elif t - last > gap_seconds:
                closed.append((start, last, n, total))
                start, last, n, total = t, t, 1, v
            else:
                start = min(start, t)
                last = max(last, t)
                n += 1
                total += v
        if late is not None:
            # in-gap late events can drag the open session's start backward
            # to within the gap of the late chain — then they are one
            # session, not two
            if n > 0 and start - late[1] <= gap_seconds:
                start = min(start, late[0])
                n += late[2]
                total += late[3]
            else:
                closed.append(late)
        state.update((start, last, n, total))
        if timeout == "processing":
            state.setTimeoutDuration(gap_seconds * 1000)
        if closed:
            yield pd.DataFrame({
                key_col: [key[0]] * len(closed),
                "session_start": [pd.Timestamp(s, unit="s") for s, _, _, _ in closed],
                "session_end": [pd.Timestamp(e, unit="s") for _, e, _, _ in closed],
                "n_events": [n_ for _, _, n_, _ in closed],
                "total_value": [t_ for _, _, _, t_ in closed],
            })

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn, outputStructType=out_schema, stateStructType=state_schema,
            outputMode="append",
            timeoutConf=(GroupStateTimeout.ProcessingTimeTimeout
                         if timeout == "processing"
                         else GroupStateTimeout.NoTimeout),
        )
    )


def streaming_neardup(stream: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", shingle_size: int = 3,
                      num_perm: int = 32, bands: int = 16,
                      threshold: float = 0.8,
                      max_per_bucket: int = 64,
                      state_ttl_seconds: int = 0) -> DataFrame:
    """NEAR-duplicate detection across an unbounded document stream —
    the stateful counterpart of ``minhash_dedup_pairs`` (exact-dup
    streaming is ``streaming_dedup``; the reference has no streaming at
    all).

    Each document's fused text→shingle→minhash signature explodes to its
    LSH band buckets; ``applyInPandasWithState`` keyed by (band, bucket)
    keeps the last ``max_per_bucket`` signatures per bucket and emits
    (new_id, prior_id, est_jaccard) whenever a new arrival's estimated
    Jaccard (= matching minhash fraction) reaches ``threshold``.

    Scale posture: state per bucket is <= max_per_bucket * num_perm
    longs (bounded); hot boilerplate buckets cap instead of growing; a
    pair colliding in several bands can emit more than once — dedupe in
    the sink (``foreachBatch`` + ``dropDuplicates``) if exact-once pairs
    matter. ``state_ttl_seconds`` > 0 evicts idle buckets via a
    processing-time timeout (leave 0 for bounded ``availableNow`` runs).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from rasterframes_spark.pipeline.dedup import (
        _band_buckets, _check_bands, minhash_signature_text)

    _check_bands("streaming_neardup", num_perm, bands)
    id_type = stream.schema[id_col].dataType.simpleString()
    # no _once: the micro-batch plan already evaluates this kernel once
    sig = minhash_signature_text(text_col, shingle_size, num_perm)
    banded = (stream
              .select(F.col(id_col).alias("__id"), sig.alias("__sig"))
              .where(F.col("__sig").isNotNull())
              .select("__id", "__sig", F.posexplode(_band_buckets(
                  F.col("__sig"), bands, "streaming_neardup"))
                  .alias("__band", "__bucket")))

    out_schema = f"new_id {id_type}, prior_id {id_type}, est_jaccard double"
    state_schema = f"ids array<{id_type}>, sigs binary"
    np_ = num_perm

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            ids, blob = state.get
            ids = list(ids)
            stored = (np.frombuffer(bytes(blob), dtype="<i8")
                      .reshape(len(ids), np_) if ids else
                      np.zeros((0, np_), dtype="<i8"))
        else:
            ids, stored = [], np.zeros((0, np_), dtype="<i8")
        out = []
        # new arrivals this batch collect in a list — ONE vstack into the
        # stored matrix at batch end (per-row vstack is O(n^2) copying)
        pending_ids, pending = [], []
        for pdf in pdfs:
            for rid, rsig in zip(pdf["__id"], pdf["__sig"]):
                s = np.asarray(rsig, dtype="<i8")
                if len(stored):
                    frac = (stored == s[None, :]).mean(axis=1)
                    for j in np.nonzero(frac >= threshold)[0]:
                        out.append((rid, ids[j], float(frac[j])))
                for pid, p in zip(pending_ids, pending):
                    f = float((p == s).mean())
                    if f >= threshold:
                        out.append((rid, pid, f))
                pending_ids.append(rid)
                pending.append(s)
        if pending:
            stored = np.vstack([stored] + [p[None, :] for p in pending])
            ids = ids + pending_ids
        if len(ids) > max_per_bucket:
            ids = ids[-max_per_bucket:]
            stored = stored[-max_per_bucket:]
        state.update((ids, stored.astype("<i8").tobytes()))
        if state_ttl_seconds:
            state.setTimeoutDuration(state_ttl_seconds * 1000)
        if out:
            yield pd.DataFrame(out, columns=["new_id", "prior_id",
                                             "est_jaccard"])

    timeout = (GroupStateTimeout.ProcessingTimeTimeout if state_ttl_seconds
               else GroupStateTimeout.NoTimeout)
    return (banded.groupBy("__band", "__bucket")
            .applyInPandasWithState(fn, outputStructType=out_schema,
                                    stateStructType=state_schema,
                                    outputMode="append", timeoutConf=timeout))


def read_warc_stream(spark: SparkSession, directory: str,
                     pattern: str = "*.warc*",
                     kinds: tuple = ("response",),
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """Continuous crawl ingest: watch ``directory`` for new WARC files
    and emit one row per record — the streaming counterpart of
    ``sources.warc.read_warc``, completing the web chain for a live
    crawler (WARC stream -> extract_html_text -> c4/gopher filters ->
    streaming_neardup -> sink).

    The ``binaryFile`` file-source provides checkpointed exactly-once
    file tracking and ``maxFilesPerTrigger`` rate limiting; record
    parsing (member-gzip iteration, HTTP split with de-chunking) runs in
    ``mapInPandas`` where the bytes already are — one task per file, the
    unit crawls actually ship (~1 GB member-gzip files, not mid-file
    splittable). A file with a corrupt/truncated tail yields every
    COMPLETE record before the bad point (the file source checkpoints it
    as consumed either way, so salvaging beats dropping) — but a crawler
    must still write-then-rename into the watched directory: a file the
    source reads mid-write is permanently half-ingested. Output schema
    matches the batch reader: (file, url, warc_type, date, http_status,
    content_type, payload)."""
    import pandas as pd

    from rasterframes_spark.sources.warc import records_to_rows

    want = tuple(kinds)
    bin_schema = ("path string, modificationTime timestamp, "
                  "length long, content binary")
    reader = (spark.readStream.format("binaryFile").schema(bin_schema)
              .option("pathGlobFilter", pattern))
    if max_files_per_trigger is not None:
        if int(max_files_per_trigger) <= 0:
            raise ValueError("read_warc_stream: max_files_per_trigger "
                             "must be positive")
        reader = reader.option("maxFilesPerTrigger",
                               str(int(max_files_per_trigger)))
    src = reader.load(directory).select("path", "content")

    def run(batches):
        for pdf in batches:
            rows = []
            for path, data in zip(pdf["path"], pdf["content"]):
                rows.extend(records_to_rows(path, bytes(data), want,
                                            tolerant=True))
            if rows:
                yield pd.DataFrame(rows, columns=[
                    "file", "url", "warc_type", "date", "http_status",
                    "content_type", "payload"])

    return src.mapInPandas(run, schema=(
        "file string, url string, warc_type string, date string, "
        "http_status int, content_type string, payload binary"))
