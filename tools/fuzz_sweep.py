"""Heavy mutation-fuzz sweep — the per-round discovery tool (the
committed test_corruption_contract fuzzes are regression PINS, not
discovery: the r12 sweep found 4 allocation/DoS bombs in paths those
had passed for rounds).

Contract under test: corrupt bytes surface as ValueError /
NotImplementedError (format dispatch's "not this format") or
MemoryError-free bounded work — NEVER IndexError / struct.error /
KeyError / TypeError / OverflowError / RecursionError escapes, and
never multi-second work from a KB-scale input (allocation/loop bombs).

Usage:  python tools/fuzz_sweep.py [trials_per_surface] [surface ...]

r13 rotation: the audio family (adpcm, mp3, aiff, au, ogg-opus/vorbis/
flac, flac decode), the document family (pdf, docx, epub, man), the
JSON/XML manifests (geojson, stac), avro container — plus the three
surfaces whose guards changed this round (jpeg SOF bound, png cap,
hdf5 heap strings).  The r12 sweep covered the image/video containers
(png/mp4/jpeg/vrt/tiff/jp2/grib/netcdf).
"""
from __future__ import annotations

import os
import sys
import time
import traceback

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

OK = (ValueError, NotImplementedError)
# zlib/zipfile raise their own error types for corrupt streams; parsers
# that wrap them are expected to translate — list kept EXPLICIT so a
# new leak class is a finding, not silently allowed
SLOW_SEC = 1.0


def _surfaces():
    from rasterframes_spark.pipeline.audio import decode_wav
    from rasterframes_spark.sources import avro_io as AV
    from rasterframes_spark.sources import office as OF
    from rasterframes_spark.sources import ogg_flac as OGF
    from rasterframes_spark.sources import stac as ST
    from rasterframes_spark.sources.adpcm import write_adpcm_wav
    from rasterframes_spark.sources.aiff_au import (decode_aiff, decode_au,
                                                    read_aiff_info,
                                                    read_au_info)
    from rasterframes_spark.sources.flac import decode_flac, encode_flac
    from rasterframes_spark.sources.hdf5 import H5File, H5Writer
    from rasterframes_spark.sources.jpeg import decode_jpeg, encode_jpeg
    from rasterframes_spark.sources.mpeg_audio import (read_mp3_info,
                                                       write_mp3_frames)
    from rasterframes_spark.sources.pdf import pdf_extract_text, write_pdf
    from rasterframes_spark.sources.png import decode_png, encode_png
    from rasterframes_spark.sources.sinks import read_geojson  # noqa: F401

    rng = np.random.default_rng(7)
    pcm = (np.sin(np.linspace(0, 60, 6000)) * 18000).astype(np.int16)

    surfaces = {}

    surfaces["pdf"] = (
        write_pdf(["Hello fuzz world. " * 40, "Second page text " * 30]),
        lambda b: pdf_extract_text(b))
    surfaces["docx"] = (
        OF.write_docx(["para one " * 20, "para two " * 20, "x" * 300]),
        OF.read_docx_text)
    surfaces["epub"] = (
        OF.write_epub(["<html><body><p>ch one</p></body></html>",
                       "<html><body><p>ch two</p></body></html>"]),
        OF.read_epub_text)
    man = (b".TH FUZZ 1\n.SH NAME\nfuzz \\- a manual page\n.SH "
           b"DESCRIPTION\n.B bold\ntext line\n.PP\n" + b"more text\n" * 40)
    surfaces["man"] = (man, lambda b: OF.read_man_text(b))

    surfaces["adpcm_ima"] = (write_adpcm_wav(pcm, 8000, fmt="ima"),
                             decode_wav)
    surfaces["adpcm_ms"] = (write_adpcm_wav(pcm, 8000, fmt="ms"),
                            decode_wav)
    surfaces["mp3"] = (write_mp3_frames(60, kbps=128, rate=44100,
                                        channels=2),
                       read_mp3_info)
    surfaces["flac"] = (encode_flac(pcm, 8000), decode_flac)
    surfaces["flac_info"] = (encode_flac(pcm, 8000), OGF.read_flac_info)
    surfaces["ogg_opus"] = (OGF.write_ogg_opus(48000 * 2), OGF.read_ogg_info)
    surfaces["ogg_vorbis"] = (OGF.write_ogg_vorbis(44100), OGF.read_ogg_info)
    surfaces["ogg_flac"] = (OGF.write_ogg_flac(encode_flac(pcm, 8000)),
                            OGF.read_ogg_info)

    import os
    fix = os.path.join(os.path.dirname(__file__), "..", "tests", "fixtures")

    def _fx(name):
        p = os.path.join(fix, name)
        return open(p, "rb").read() if os.path.exists(p) else None

    aiff = _fx("pluck-pcm16.aiff")
    if aiff:
        surfaces["aiff"] = (aiff, decode_aiff)
        surfaces["aiff_info"] = (aiff, read_aiff_info)
    au = _fx("pluck-pcm16.au")
    if au:
        surfaces["au"] = (au, decode_au)
        surfaces["au_info"] = (au, read_au_info)

    schema = {"type": "record", "name": "KV", "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "vals", "type": {"type": "array", "items": "double"}}]}
    rows = [{"id": i, "name": f"r{i}", "vals": [1.5 * i, 2.5]}
            for i in range(40)]
    surfaces["avro"] = (AV.write_container(rows, schema),
                        lambda b: AV.read_container(b))

    import json
    gj = json.dumps({"type": "FeatureCollection", "features": [
        {"type": "Feature", "properties": {"name": f"z{i}", "zone": i},
         "geometry": {"type": "Polygon", "coordinates":
                      [[[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]]]}}
        for i in range(10)]}).encode()

    def parse_gj(b):
        from rasterframes_spark.sources.sinks import _geojson_to_geom
        d = json.loads(b.decode("utf-8", errors="strict"))
        for f in d.get("features", []):
            _geojson_to_geom(f.get("geometry") or {})

    surfaces["geojson"] = (gj, parse_gj)

    # (STAC item handling is driver-side json + Spark createDataFrame —
    # no byte-level parser of its own to fuzz here; geojson covers the
    # shared geometry-dict layer.)
    del ST

    # r13-changed guard paths
    img = rng.integers(0, 255, (48, 64, 3)).astype(np.uint8)
    surfaces["jpeg"] = (encode_jpeg(img), decode_jpeg)
    surfaces["png"] = (encode_png(img), decode_png)
    w = H5Writer()
    w.create_dataset("v" + "x" * 500,
                     np.arange(120, dtype="int32").reshape(10, 12))
    surfaces["hdf5"] = (w.tobytes(), lambda b: [
        d.read() for d in H5File(b).datasets.values()])

    # the binary-container batch (the r12 ad-hoc sweep's surfaces,
    # re-runnable here with fresh seeds each round)
    from rasterframes_spark.sources import geotiff as GTF
    from rasterframes_spark.sources import jp2 as J2
    from rasterframes_spark.sources import mp4 as M4
    from rasterframes_spark.sources import webm as WM
    from rasterframes_spark.sources import webp as WP
    from rasterframes_spark.sources.gif import decode_gif, encode_gif
    from rasterframes_spark.sources.grib2 import parse_grib2, write_grib2
    from rasterframes_spark.sources.netcdf import (read_netcdf_info,
                                                   read_netcdf_var,
                                                   write_netcdf)

    a = (rng.random((40, 50)) * 100).astype("float64")
    surfaces["tiff"] = (GTF.write_geotiff(a, (0, 0, 50, 40)),
                        lambda b: GTF.read_full(b))
    gg = ((np.mgrid[0:20, 0:30][0] * 7) % 53).astype("f8")
    surfaces["grib2"] = (
        write_grib2([gg], extent=(-100.0, 20.0, -70.0, 40.0)),
        parse_grib2)
    nc = write_netcdf({"v": (("y", "x"), gg),
                       "y": (("y",), np.arange(20.0)),
                       "x": (("x",), np.arange(30.0))},
                      {"y": 20, "x": 30})
    surfaces["netcdf"] = (nc, lambda b: (read_netcdf_info(b),
                                         read_netcdf_var(b, "v")))
    pal = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]],
                   dtype=np.uint8)
    gimg = pal[rng.integers(0, 4, size=(24, 32))]
    surfaces["gif"] = (encode_gif([gimg, gimg]), decode_gif)
    surfaces["webp"] = (WP.encode_webp(img), WP.decode_webp)
    samples = [bytes(rng.integers(0, 256, 40, dtype=np.uint8).tobytes())
               for _ in range(12)]
    def parse_mp4(b):
        info = M4.read_mp4_info(b)
        if info.tracks:
            tr = info.tracks[0]
            for i in range(min(3, len(tr.sizes))):
                M4.extract_sample(b, tr, i)

    surfaces["mp4"] = (M4.write_mp4(samples, [100] * 12), parse_mp4)
    def parse_webm(b):
        info = WM.read_webm_info(b)
        if info.tracks:
            tr = info.tracks[0]
            for i in range(min(3, len(tr.sizes))):
                WM.extract_frame(b, tr, i)

    surfaces["webm"] = (WM.write_webm(samples, list(range(0, 1200, 100))),
                        parse_webm)
    j2img = (rng.random((64, 48)) * 1000).astype("uint16")
    surfaces["jp2"] = (
        J2.wrap_jp2(J2.encode_jp2(j2img, tile_size=(32, 32), levels=2,
                                  depth=16), 48, 64, 16),
        J2.decode_jp2)

    # --- r14 rotation: the never-swept byte surfaces — WARC ingest
    # (Common Crawl bytes are the single most attacker-exposed input in
    # the pipeline), HTML text extraction (text-shaped parser; fed the
    # way ingestion feeds it, bytes decoded errors='replace'), EXIF
    # IFD walk, GRIB edition 1 (IBM floats, PDS/GDS/BMS/BDS), both
    # plain and member-gzip WARC framings.
    from rasterframes_spark.sources import html_text as HT
    from rasterframes_spark.sources import warc as WR
    from rasterframes_spark.sources.exif import read_exif, write_exif_app1
    from rasterframes_spark.sources.grib1 import parse_grib1, write_grib1

    html_doc = (b"<html><head><title>T</title>"
                b"<meta name='description' content='d'></head><body>"
                b"<nav><a href='/a'>a</a><a href='/b'>b</a></nav>"
                b"<main><h1>Header</h1><p>Body text with <b>markup</b>"
                b" and a <a href='x'>link</a>.</p><ul><li>one</li>"
                b"<li>two</li></ul></main><footer>f</footer>"
                b"</body></html>") * 3

    def parse_html(b: bytes):
        s = b.decode("utf-8", "replace")
        HT.parse_page(s)
        HT.html_metadata(s)

    surfaces["html"] = (html_doc, parse_html)

    http_body = b"<html><body>" + b"hello world " * 40 + b"</body></html>"
    http_payload = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                    b"Content-Length: " + str(len(http_body)).encode()
                    + b"\r\n\r\n" + http_body)
    wrecs = [({"WARC-Type": "warcinfo",
               "WARC-Record-ID": "<urn:uuid:1>"}, b"software: test\r\n"),
             ({"WARC-Type": "response", "WARC-Record-ID": "<urn:uuid:2>",
               "WARC-Target-URI": "http://example.com/",
               "Content-Type": "application/http;msgtype=response"},
              http_payload)] * 2

    def parse_warc(b: bytes):
        for h, p in WR.iter_warc_records(b):
            if h.get("warc-type") == "response":
                WR.split_http_response(p)

    surfaces["warc_gz"] = (WR.write_warc(wrecs, gzip_members=True),
                           parse_warc)
    surfaces["warc_plain"] = (WR.write_warc(wrecs, gzip_members=False),
                              parse_warc)

    surfaces["exif"] = (
        write_exif_app1(encode_jpeg(img), {
            "Make": "cam", "Model": "m1", "Orientation": 6,
            "DateTime": "2020:01:01 00:00:00"}),
        read_exif)

    g1 = np.round(rng.random((24, 36)) * 500)
    g1[2, 3] = np.nan
    surfaces["grib1"] = (
        write_grib1([g1, g1 * 2], (0.0, 0.0, 36.0, 24.0), nbits=12),
        parse_grib1)
    return surfaces


def sweep(name, good, parse, trials, rng):
    bad, slow = [], []
    t_start = time.time()
    for t in range(trials):
        b = bytearray(good)
        n_mut = int(rng.integers(1, 6))
        for _ in range(n_mut):
            b[int(rng.integers(0, len(b)))] = int(rng.integers(0, 256))
        if rng.random() < 0.15:
            b = b[:int(rng.integers(1, len(b)))]
        t0 = time.time()
        try:
            parse(bytes(b))
        except OK:
            pass
        except MemoryError:
            bad.append((t, "MemoryError", ""))
        except RecursionError:
            bad.append((t, "RecursionError", ""))
        except Exception as e:  # noqa: BLE001 — the finding class
            bad.append((t, type(e).__name__,
                        traceback.format_exc().splitlines()[-3:]))
        dt = time.time() - t0
        if dt > SLOW_SEC:
            slow.append((t, round(dt, 2)))
    return bad, slow, round(time.time() - t_start, 1)


def main():
    trials = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    only = set(sys.argv[2:])
    surfaces = _surfaces()
    rng = np.random.default_rng(13)
    total_bad = 0
    for name, (good, parse) in surfaces.items():
        if only and name not in only:
            continue
        bad, slow, wall = sweep(name, good, parse, trials, rng)
        status = "OK" if not bad and not slow else "VIOLATIONS"
        print(f"{name:12s} {trials} trials {wall:7.1f}s  {status}  "
              f"bad={len(bad)} slow={len(slow)}")
        for t, exc, tb in bad[:5]:
            print(f"   trial {t}: {exc}  {tb}")
        for t, dt in slow[:5]:
            print(f"   trial {t}: SLOW {dt}s")
        total_bad += len(bad) + len(slow)
    print(f"TOTAL violations: {total_bad}")
    sys.exit(1 if total_bad else 0)


if __name__ == "__main__":
    main()
