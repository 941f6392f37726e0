"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, with Arrow-batched decode / feature-extract / sample stages.

The Spark-side plumbing (schema, batching, partitioning, UDF
signatures) is real and tested; the actual codec work is either a pure
byte-level computation (histogram features, stride sampling — no
external libs needed, deterministic) or gated behind an import-try
(PIL/librosa are not in this container) that raises
``NotImplementedError`` with the real call shape in place.
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA = ("doc_id long, media binary, media_type string, "
                "width int, height int, duration_ms int")

N_HIST_BINS = 16


def attach_fake_media(docs: DataFrame) -> DataFrame:
    """Derive a deterministic opaque media payload + metadata per doc
    (sha-expanded bytes of the text) — the fixture for multimodal tests;
    on real data this column comes straight from the lake."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            medias, mts, ws, hs, ds = [], [], [], [], []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                dig = hashlib.sha256(str(txt).encode()).digest()
                size = 512 + dig[0] * 7
                medias.append((dig * (size // 32 + 1))[:size])
                mt = ["image/png", "audio/wav", "video/mp4"][did % 3]
                mts.append(mt)
                ws.append(16 + dig[1] % 64 if mt == "image/png" else 0)
                hs.append(16 + dig[2] % 64 if mt == "image/png" else 0)
                ds.append(1000 + dig[3] * 100 if mt != "image/png" else 0)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"], "media": medias, "media_type": mts,
                "width": pd.array(ws, dtype="int32"),
                "height": pd.array(hs, dtype="int32"),
                "duration_ms": pd.array(ds, dtype="int32"),
            })

    return docs.select("doc_id", "text").mapInPandas(fn, MEDIA_SCHEMA)


def byte_histogram_features(media_df: DataFrame) -> DataFrame:
    """(doc_id, features array<long>): ``N_HIST_BINS``-bin byte-value
    histogram of the payload — a real, deterministic feature extractor
    (the shape every decode-based extractor plugs into)."""
    bins = N_HIST_BINS
    shift = int(np.log2(256 // bins))   # the bucketing is a byte right-shift

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for blob in pdf["media"]:
                arr = np.frombuffer(bytes(blob), dtype=np.uint8)
                hist = np.bincount(arr >> shift, minlength=bins)
                feats.append(hist.astype(np.int64).tolist())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": feats})

    return media_df.select("doc_id", "media").mapInPandas(
        fn, "doc_id long, features array<long>")


def sample_frames(media_df: DataFrame, n_frames: int = 4,
                  frame_bytes: int = 64) -> DataFrame:
    """(doc_id, frame_idx, frame binary): deterministic stride sampling
    of the payload — the batching/explode shape of real video frame
    sampling (ffmpeg-backed at production; byte strides here)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for did, blob in zip(pdf["doc_id"], pdf["media"]):
                b = bytes(blob)
                stride = max((len(b) - frame_bytes) // max(n_frames - 1, 1), 1)
                for k in range(n_frames):
                    off = min(k * stride, max(len(b) - frame_bytes, 0))
                    ids.append(did)
                    idxs.append(k)
                    frames.append(b[off:off + frame_bytes])
            yield pd.DataFrame({
                "doc_id": ids,
                "frame_idx": pd.array(idxs, dtype="int32"),
                "frame": frames,
            })

    return media_df.select("doc_id", "media").mapInPandas(
        fn, "doc_id long, frame_idx int, frame binary")


def decode_bmp_gray(b: bytes) -> np.ndarray:
    """Numpy-only decode of an uncompressed BI_RGB 24/32-bit BMP (the
    public Windows bitmap format) to a grayscale uint8 (h, w) array —
    integer Rec.601 luma ((299 R + 587 G + 114 B) // 1000), rows
    un-flipped from the bottom-up storage order."""
    if b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = int.from_bytes(b[10:14], "little")
    w = int.from_bytes(b[18:22], "little", signed=True)
    h = int.from_bytes(b[22:26], "little", signed=True)
    bpp = int.from_bytes(b[28:30], "little")
    comp = int.from_bytes(b[30:34], "little")
    if comp != 0 or bpp not in (24, 32):
        raise ValueError(f"unsupported BMP: compression={comp} bpp={bpp}")
    flip, h = h > 0, abs(h)
    nb = bpp // 8
    row_bytes = (w * nb + 3) & ~3
    a = np.frombuffer(b, np.uint8, count=row_bytes * h, offset=off)
    px = a.reshape(h, row_bytes)[:, :w * nb].reshape(h, w, nb)
    bgr = px[:, :, :3].astype(np.uint32)
    gray = ((299 * bgr[:, :, 2] + 587 * bgr[:, :, 1] + 114 * bgr[:, :, 0])
            // 1000).astype(np.uint8)
    return gray[::-1] if flip else gray


def decode_ppm_gray(b: bytes) -> np.ndarray:
    """Numpy-only decode of a binary netpbm image (P6 RGB / P5 gray,
    maxval <= 255) to grayscale uint8 (h, w) — same integer luma as the
    BMP path.  Header tokens may be separated by whitespace/comments."""
    if b[:2] not in (b"P6", b"P5"):
        raise ValueError("not a binary PPM/PGM payload")
    toks, i = [], 2
    while len(toks) < 3:
        while i < len(b) and b[i:i + 1].isspace():
            i += 1
        if b[i:i + 1] == b"#":                 # comment to end of line
            while i < len(b) and b[i] not in (0x0A, 0x0D):
                i += 1
            continue
        j = i
        while j < len(b) and not b[j:j + 1].isspace():
            j += 1
        toks.append(int(b[i:j]))
        i = j
    # single whitespace after maxval per spec; tolerate a CRLF pair
    # (Windows text-mode writers) so the raster is not shifted a byte
    if b[i:i + 2] == b"\r\n":
        i += 2
    else:
        i += 1
    w, h, maxval = toks
    if maxval > 255:
        raise ValueError("16-bit netpbm not supported")
    if b[:2] == b"P5":
        return np.frombuffer(b, np.uint8, count=w * h, offset=i).reshape(h, w)
    px = np.frombuffer(b, np.uint8, count=3 * w * h, offset=i) \
        .reshape(h, w, 3).astype(np.uint32)
    return ((299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2])
            // 1000).astype(np.uint8)


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_png_gray(b: bytes) -> np.ndarray:
    """Numpy-only decode of a non-interlaced 8-bit PNG (public spec,
    RFC 2083 / ISO 15948) to grayscale uint8 (h, w): chunk walk, zlib
    inflate of the IDAT stream, all five scanline filters (None, Sub,
    Up, Average, Paeth), color types 0 (gray), 2 (RGB), 3 (palette),
    4 (gray+alpha), 6 (RGBA); alpha is ignored, color via the same
    integer Rec.601 luma as the BMP path."""
    if b[:8] != PNG_SIG:
        raise ValueError("not a PNG payload")
    i = 8
    idat = []
    plte = None
    w = h = depth = ctype = interlace = None
    while i + 8 <= len(b):
        ln = int.from_bytes(b[i:i + 4], "big")
        typ = b[i + 4:i + 8]
        data = b[i + 8:i + 8 + ln]
        if typ == b"IHDR":
            w = int.from_bytes(data[0:4], "big")
            h = int.from_bytes(data[4:8], "big")
            depth, ctype = data[8], data[9]
            interlace = data[12]
        elif typ == b"PLTE":
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        i += 12 + ln                      # len + type + data + crc
    if w is None:
        raise ValueError("PNG missing IHDR")
    if depth != 8:
        raise ValueError(f"unsupported PNG bit depth {depth}")
    if interlace:
        raise ValueError("interlaced (Adam7) PNG not supported")
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if nch is None:
        raise ValueError(f"unknown PNG color type {ctype}")
    raw = zlib.decompress(b"".join(idat))
    stride = w * nch
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG pixel data")
    arr = np.frombuffer(raw, np.uint8, count=h * (stride + 1)) \
        .reshape(h, stride + 1)
    filters = arr[:, 0]
    rows = arr[:, 1:]
    recon = np.zeros((h, stride), np.uint8)
    prev = np.zeros(stride, np.uint8)
    bpp = nch                              # bytes per pixel at depth 8
    for y in range(h):
        f = filters[y]
        r = rows[y]
        if f == 0:
            cur = r.copy()
        elif f == 1:                       # Sub: cumsum per byte lane
            d = r.reshape(-1, bpp).astype(np.uint32)
            cur = (np.cumsum(d, axis=0) & 0xFF).astype(np.uint8).reshape(-1)
        elif f == 2:                       # Up
            cur = (r.astype(np.uint16) + prev).astype(np.uint8)
        elif f == 3:                       # Average: sequential in x, but
            # vectorized over the bpp byte lanes — w iterations of lane
            # vectors instead of `stride` scalar-indexing iterations
            r2 = r.reshape(-1, bpp).astype(np.int32)
            up2 = prev.reshape(-1, bpp).astype(np.int32)
            cur2 = np.empty_like(r2)
            left = np.zeros(bpp, np.int32)
            for xp in range(r2.shape[0]):
                left = (r2[xp] + ((left + up2[xp]) >> 1)) & 0xFF
                cur2[xp] = left
            cur = cur2.astype(np.uint8).reshape(-1)
        elif f == 4:                       # Paeth: same lane-vector walk
            r2 = r.reshape(-1, bpp).astype(np.int32)
            up2 = prev.reshape(-1, bpp).astype(np.int32)
            cur2 = np.empty_like(r2)
            left = np.zeros(bpp, np.int32)
            upleft = np.zeros(bpp, np.int32)
            for xp in range(r2.shape[0]):
                up = up2[xp]
                pa = np.abs(up - upleft)
                pb = np.abs(left - upleft)
                pc = np.abs(left + up - 2 * upleft)
                pred = np.where((pa <= pb) & (pa <= pc), left,
                                np.where(pb <= pc, up, upleft))
                left = (r2[xp] + pred) & 0xFF
                cur2[xp] = left
                upleft = up
            cur = cur2.astype(np.uint8).reshape(-1)
        else:
            raise ValueError(f"bad PNG filter type {f}")
        recon[y] = cur
        prev = cur
    px = recon.reshape(h, w, nch)
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        px = plte[px[:, :, 0]]
        nch = 3
    if nch == 1 or ctype == 4:
        return px[:, :, 0].copy()
    rgb = px[:, :, :3].astype(np.uint32)
    return ((299 * rgb[:, :, 0] + 587 * rgb[:, :, 1] + 114 * rgb[:, :, 2])
            // 1000).astype(np.uint8)


def jpeg_fixture(doc_id: int) -> bytes:
    """Deterministic 32×24 color JPEG for tests/driver rows: per-doc
    gradients through the baseline encoder (q85, 4:2:0).  Pinned by
    golden-pixel tests — a change in either codec half breaks them."""
    from osm_spark.operators.jpeg import encode_baseline

    yy, xx = np.mgrid[0:24, 0:32]
    img = np.stack([(xx * 3 + yy * 2 + doc_id * 17) % 200,
                    (xx + yy * 4 + doc_id * 29) % 200,
                    (xx * 2 + yy + doc_id * 43) % 200],
                   -1).astype(np.uint8)
    return encode_baseline(img, quality=85, subsample=True)


def resize_nearest(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Deterministic nearest-neighbor resample: source index
    (i * src) // dst per axis."""
    h, w = img.shape
    yi = (np.arange(height) * h) // height
    xi = (np.arange(width) * w) // width
    return img[yi][:, xi]


def decode_and_resize(media_df: DataFrame, width: int,
                      height: int) -> DataFrame:
    """Image decode + resize to width*height grayscale bytes.

    Real decode path: numpy-only BMP (BI_RGB 24/32bpp), binary netpbm
    (P6/P5), non-interlaced 8-bit PNG and baseline-sequential JPEG
    (osm_spark.operators.jpeg) decoders + nearest-neighbor resize — no
    external libs; that covers the dominant Common-Crawl media formats.
    Anything else (progressive JPEG, WebP, GIF, ...) falls back to PIL
    when available and raises ``NotImplementedError`` otherwise."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        # probe PIL on the EXECUTOR (driver availability is irrelevant
        # and binding the module into the closure would make every task
        # fail at deserialization on a driver/executor mismatch)
        try:
            from PIL import Image
            have_pil = True
        except ImportError:
            have_pil = False
        for pdf in batches:
            out = []
            for blob in pdf["media"]:
                b = bytes(blob)
                if b[:2] == b"BM":
                    out.append(resize_nearest(
                        decode_bmp_gray(b), width, height).tobytes())
                elif b[:2] in (b"P6", b"P5"):
                    out.append(resize_nearest(
                        decode_ppm_gray(b), width, height).tobytes())
                elif b[:8] == PNG_SIG:
                    out.append(resize_nearest(
                        decode_png_gray(b), width, height).tobytes())
                elif b[:2] == b"\xff\xd8":
                    # baseline-sequential decodes numpy-only; anything
                    # the built-in codec rejects (progressive/SOF2,
                    # sampling >2, 16-bit quant, truncated scans) falls
                    # through to PIL like every other non-built-in
                    # format rather than failing the task
                    from osm_spark.operators.jpeg import decode_jpeg_gray
                    try:
                        px = decode_jpeg_gray(b)
                    except (ValueError, KeyError, IndexError) as e:
                        # corrupt streams surface as KeyError (undefined
                        # Huffman/component id) or IndexError (segment
                        # truncated mid-table), not only ValueError —
                        # all of them must route to PIL, not kill the task
                        if not have_pil:
                            raise ValueError(
                                f"JPEG decode failed ({e!r}) and PIL is "
                                "not available for fallback") from e
                        img = Image.open(io.BytesIO(b)).convert(
                            "L").resize((width, height))
                        out.append(img.tobytes())
                        continue
                    out.append(resize_nearest(px, width, height).tobytes())
                elif not have_pil:
                    raise NotImplementedError(
                        "only BMP/netpbm/PNG/baseline-JPEG decode is built "
                        "in; this payload needs PIL (not available in this "
                        "environment); use byte_histogram_features for "
                        "byte-level features")
                else:
                    img = Image.open(io.BytesIO(b)).convert(
                        "L").resize((width, height))
                    out.append(img.tobytes())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "pixels": out})

    return media_df.select("doc_id", "media").mapInPandas(
        fn, "doc_id long, pixels binary")
