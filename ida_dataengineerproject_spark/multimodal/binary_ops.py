"""Multimodal (binary-column) plumbing (driver extension; SURVEY.md §2.11).

Design: image/audio/video payloads are opaque ``binary`` columns with typed
metadata travelling beside them.  Decode / feature-extract / resize /
frame-sample run as Arrow-batched pandas iterators over ``mapInPandas`` —
the payload never round-trips through Python row-by-row, and each batch
stays columnar.

The decode step is REAL for BMP (round 2): ``_bmp_encode``/``_bmp_decode``
implement the 24-bit uncompressed BMP container with stdlib ``struct``
only, and ``decode_bmp`` runs that parser distributed — no codec library
required.  WAV audio gets the same treatment (``decode_wav``).  A format
that needs a codec library (JPEG/PNG) would slot in at the same
mapInPandas boundary with the same schema, partitioning and batch shape.

Scale notes: binary payloads dominate partition size — set
``spark.sql.files.maxPartitionBytes`` down (or repartition by size) so a
partition of payloads fits executor memory; metadata-only operations should
``select`` away the binary column FIRST so the parquet reader never
materializes it (column pruning works per-column).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id long, n_bytes int, first_byte int, byte_checksum long"
)

DECODE_SCHEMA = (
    "doc_id long, width int, height int, n_channels int, mean_pixel double"
)


def attach_fake_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic binary payload derived from a text column — stands in
    for real image/audio bytes so the binary path is exercised without
    external fixtures."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8"))


def extract_byte_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Byte-level features over the binary column via mapInPandas.

    One Arrow batch in → one batch out; nothing is collected; the operator
    parallelizes per input partition.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payload = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": payload.map(len).astype("int32"),
                    "first_byte": payload.map(
                        lambda b: b[0] if len(b) else -1
                    ).astype("int32"),
                    # cheap deterministic checksum (sum of bytes)
                    "byte_checksum": payload.map(
                        lambda b: int(sum(b)) if len(b) else 0
                    ).astype("int64"),
                }
            )

    return df.select(id_col, "payload").mapInPandas(op, FEATURE_SCHEMA)


def _bmp_encode(width: int, height: int, gray: int) -> bytes:
    """Minimal 24-bit uncompressed BMP (BITMAPINFOHEADER), solid gray.

    Real file layout: 14-byte file header, 40-byte info header, bottom-up
    pixel rows padded to 4-byte boundaries — the standard Windows BMP
    format (public spec), written with struct.pack only.
    """
    row_bytes = width * 3
    pad = (4 - row_bytes % 4) % 4
    pixel_bytes = (row_bytes + pad) * height
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + pixel_bytes, 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, pixel_bytes, 2835, 2835, 0, 0
    )
    row = bytes([gray]) * row_bytes + b"\x00" * pad
    return header + row * height


def _bmp_decode(data: bytes) -> tuple[int, int, int, float]:
    """Parse a 24-bit BMP: header fields + mean over actual pixel bytes
    (skipping row padding).  Returns (width, height, n_channels, mean)."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (pixel_off,) = struct.unpack_from("<I", data, 10)
    _, width, height, _, bpp = struct.unpack_from("<IiiHH", data, 14)
    if bpp != 24:
        raise ValueError(f"unsupported bpp {bpp}")
    height = abs(height)
    row_bytes = width * 3
    stride = row_bytes + (4 - row_bytes % 4) % 4
    total = 0
    for r in range(height):
        start = pixel_off + r * stride
        total += sum(data[start : start + row_bytes])
    n_px_bytes = row_bytes * height
    return width, height, 3, (total / n_px_bytes if n_px_bytes else 0.0)


def attach_bmp_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic REAL image payload: each document becomes a valid
    24-bit BMP whose dimensions and gray level derive from the text's
    UTF-8 BYTE length (width = n%16+1, height = n%8+1, gray = n%256) — the
    byte count matches DuckDB ``strlen()`` even for non-ASCII text, so a
    SQL oracle can predict the decoded metadata while the decoder
    genuinely parses bytes.  NULL text counts as 0 bytes.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf[text_col].map(
                lambda s: len(s.encode("utf-8")) if isinstance(s, str) else 0
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        _bmp_encode(ln % 16 + 1, ln % 8 + 1, ln % 256)
                        for ln in n
                    ],
                }
            )

    return df.select("doc_id", text_col).mapInPandas(
        op, "doc_id long, payload binary"
    )


def decode_bmp(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real image decode over the binary column: parses the BMP container
    (file header, BITMAPINFOHEADER, padded bottom-up rows) with no external
    codec library — replaces the round-1 fake-decode stub.  Arrow-batched
    mapInPandas; payload bytes never round-trip Python row objects outside
    the batch."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = pdf["payload"].map(_bmp_decode)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "width": decoded.map(lambda t: t[0]).astype("int32"),
                    "height": decoded.map(lambda t: t[1]).astype("int32"),
                    "n_channels": decoded.map(lambda t: t[2]).astype("int32"),
                    "mean_pixel": decoded.map(lambda t: t[3]),
                }
            )

    return df.select(id_col, "payload").mapInPandas(op, DECODE_SCHEMA)


def frame_sample_stub(
    df: DataFrame, id_col: str = "doc_id", every_n_bytes: int = 64
) -> DataFrame:
    """Frame sampling shape: one input row (a 'video') explodes to many
    output rows (its 'frames') — mapInPandas returning more rows than it
    received, the pattern a real frame sampler uses."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_idx, out_bytes = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                for i, off in enumerate(range(0, len(payload), every_n_bytes)):
                    out_ids.append(doc_id)
                    out_idx.append(i)
                    out_bytes.append(payload[off : off + every_n_bytes])
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_ids, dtype="int64"),
                    "frame_idx": pd.Series(out_idx, dtype="int32"),
                    "frame": pd.Series(out_bytes, dtype=object),
                }
            )

    return df.select(id_col, "payload").mapInPandas(
        op, "doc_id long, frame_idx int, frame binary"
    )


def _bmp_encode_pixels(arr) -> bytes:
    """General 24-bit BMP encoder from an (h, w, 3) uint8 pixel array —
    bottom-up padded rows, same container _bmp_decode parses."""
    import numpy as np

    h, w = arr.shape[0], arr.shape[1]
    row_bytes = w * 3
    pad = (4 - row_bytes % 4) % 4
    pixel_bytes = (row_bytes + pad) * h
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + pixel_bytes, 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, pixel_bytes, 2835, 2835, 0, 0
    )
    rows = []
    for r in range(h - 1, -1, -1):  # bottom-up
        rows.append(arr[r].astype(np.uint8).tobytes() + b"\x00" * pad)
    return header + b"".join(rows)


def _bmp_pixels(data: bytes):
    """Decode a 24-bit BMP to an (h, w, 3) uint8 array (top-down)."""
    import numpy as np

    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (pixel_off,) = struct.unpack_from("<I", data, 10)
    _, width, height, _, bpp = struct.unpack_from("<IiiHH", data, 14)
    if bpp != 24:
        raise ValueError(f"unsupported bpp {bpp}")
    # negative biHeight = top-down row order (valid per the BMP spec);
    # positive = the usual bottom-up storage
    top_down = height < 0
    height = abs(height)
    row_bytes = width * 3
    stride = row_bytes + (4 - row_bytes % 4) % 4
    out = np.empty((height, width, 3), dtype=np.uint8)
    for r in range(height):
        start = pixel_off + r * stride
        row = np.frombuffer(data[start : start + row_bytes], dtype=np.uint8)
        out[r if top_down else height - 1 - r] = row.reshape(width, 3)
    return out


def resize_bmp_half(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL image transform over the binary column: decode the full pixel
    grid, nearest-neighbor downsample by 2 in both axes ([::2, ::2] —
    output dims ceil(w/2) x ceil(h/2)), re-encode a valid BMP, then
    re-decode the new container for the reported metadata — so width/
    height/size/mean all come from bytes that went through the whole
    decode -> transform -> encode pipeline, not from arithmetic on the
    input.  Arrow-batched mapInPandas; at scale this is the canonical
    multimodal map stage (pure per-row kernel, no shuffle), and the
    pluggable-codec boundary is the same as decode_bmp's."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # src dims come from a 12-byte header unpack — running the
            # full O(pixels) _bmp_decode here would walk every source
            # pixel a second time just to report two header fields
            src_meta = pdf["payload"].map(
                lambda b: struct.unpack_from("<ii", b, 18)
            )
            resized = pdf["payload"].map(
                lambda b: _bmp_encode_pixels(_bmp_pixels(b)[::2, ::2])
            )
            out_meta = resized.map(_bmp_decode)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "src_width": src_meta.map(lambda t: t[0]).astype("int32"),
                    "src_height": src_meta.map(lambda t: abs(t[1])).astype(
                        "int32"
                    ),
                    "out_width": out_meta.map(lambda t: t[0]).astype("int32"),
                    "out_height": out_meta.map(lambda t: t[1]).astype("int32"),
                    "out_bytes": resized.map(len).astype("int64"),
                    "mean_pixel": out_meta.map(lambda t: t[3]),
                }
            )

    return df.select(id_col, "payload").mapInPandas(
        op,
        "doc_id long, src_width int, src_height int, out_width int, "
        "out_height int, out_bytes long, mean_pixel double",
    )


def _wav_encode(n_samples: int, sample_rate: int, amplitude: int) -> bytes:
    """Minimal PCM WAV (RIFF) encoder: 16-bit mono, constant-amplitude
    samples — 44-byte canonical header + data, struct.pack only (public
    container spec, the audio twin of _bmp_encode)."""
    data = struct.pack("<h", amplitude) * n_samples
    byte_rate = sample_rate * 2
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
        + struct.pack(
            "<4sIHHIIHH", b"fmt ", 16, 1, 1, sample_rate, byte_rate, 2, 16
        )
        + struct.pack("<4sI", b"data", len(data))
        + data
    )


def _wav_decode(data: bytes) -> tuple[int, int, int, float]:
    """Parse a PCM WAV: (n_samples, sample_rate, n_channels,
    duration_ms as exact milliseconds).  Walks the RIFF chunk list
    rather than assuming the canonical 44-byte layout — real encoders
    emit 18-byte fmt chunks (cbSize field) and LIST/INFO chunks before
    'data', which a fixed-offset read would silently misparse."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    fmt = None
    pos = 12
    while pos + 8 <= len(data):
        cid, clen = struct.unpack_from("<4sI", data, pos)
        body = pos + 8
        if cid == b"fmt ":
            fmt_code, n_ch, rate, _, _, bits = struct.unpack_from(
                "<HHIIHH", data, body
            )
            if fmt_code != 1 or bits != 16:
                raise ValueError(
                    f"unsupported wav fmt={fmt_code} bits={bits}"
                )
            fmt = (n_ch, rate)
        elif cid == b"data":
            if fmt is None:
                raise ValueError("wav data chunk before fmt chunk")
            n_ch, rate = fmt
            n_samples = clen // (2 * n_ch)
            return n_samples, rate, n_ch, n_samples * 1000.0 / rate
        pos = body + clen + (clen & 1)  # chunks are word-aligned
    raise ValueError("wav has no data chunk")


def attach_wav_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic REAL audio payload: each document becomes a valid
    16-bit mono PCM WAV whose sample count / rate / amplitude derive
    from the text's UTF-8 byte length (n_samples = n%400+1, rate =
    8000 or 16000 by n%2, amplitude = n%1000) — SQL-predictable like
    the BMP payloads while the decoder genuinely parses the RIFF
    container."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf[text_col].map(
                lambda s: len(s.encode("utf-8")) if isinstance(s, str) else 0
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        _wav_encode(
                            ln % 400 + 1,
                            16000 if ln % 2 else 8000,
                            ln % 1000,
                        )
                        for ln in n
                    ],
                }
            )

    return df.select("doc_id", text_col).mapInPandas(
        op, "doc_id long, payload binary"
    )


def decode_wav(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real audio metadata decode over the binary column (RIFF header +
    PCM layout) — the audio twin of decode_bmp; same Arrow-batched
    mapInPandas shape, same pluggable-codec boundary where a real
    soundfile/librosa decoder would slot in."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = pdf["payload"].map(_wav_decode)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_samples": decoded.map(lambda t: t[0]).astype("int64"),
                    "sample_rate": decoded.map(lambda t: t[1]).astype("int32"),
                    "n_channels": decoded.map(lambda t: t[2]).astype("int32"),
                    "duration_ms": decoded.map(lambda t: t[3]),
                }
            )

    return df.select(id_col, "payload").mapInPandas(
        op,
        "doc_id long, n_samples long, sample_rate int, n_channels int, "
        "duration_ms double",
    )


def _wav_pcm_samples(data: bytes):
    """int16 numpy array of the PCM 'data' chunk (mono assumed by the
    synthetic payloads; a real multi-channel reader would reshape)."""
    import numpy as np

    pos = 12
    while pos + 8 <= len(data):
        cid, clen = struct.unpack_from("<4sI", data, pos)
        if cid == b"data":
            return np.frombuffer(data, dtype="<i2", count=clen // 2, offset=pos + 8)
        pos += 8 + clen + (clen & 1)
    raise ValueError("no data chunk")


def audio_frame_energy(
    df: DataFrame,
    id_col: str = "doc_id",
    frame: int = 100,
    silence_rms: float = 100.0,
) -> DataFrame:
    """Frame-level RMS energy over the PCM payload — the silence-
    detection / VAD-prefilter kernel: split samples into ``frame``-sized
    windows, RMS per window, report per-doc window count, min/max RMS
    and whether every window is silent.

    Same Arrow-batched mapInPandas shape as decode_wav: payload bytes
    reach numpy as one buffer per row, never Python-per-sample; at
    100 TB the stage is embarrassingly parallel over payload rows and
    emits one fixed-width row per document."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for did, payload in zip(pdf[id_col], pdf["payload"]):
                s = _wav_pcm_samples(payload).astype("float64")
                n = len(s)
                nw = (n + frame - 1) // frame
                pad = np.zeros(nw * frame)
                pad[:n] = s
                w = pad.reshape(nw, frame)
                # RMS over the REAL samples in each window (last window
                # divides by its true length, not the padded one)
                lens = np.full(nw, frame, dtype="float64")
                if n % frame:
                    lens[-1] = n % frame
                rms = np.sqrt((w * w).sum(axis=1) / lens)
                rows.append(
                    (
                        did,
                        int(nw),
                        float(rms.min()),
                        float(rms.max()),
                        bool((rms < silence_rms).all()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_windows",
                    "rms_min",
                    "rms_max",
                    "all_silent",
                ],
            )

    return df.select(id_col, "payload").mapInPandas(
        op,
        "doc_id long, n_windows long, rms_min double, rms_max double, "
        "all_silent boolean",
    )


def bmp_patch_tokens(
    df: DataFrame, id_col: str = "doc_id", patch: int = 4
) -> DataFrame:
    """ViT-style patch tokenization over the binary image column: decode
    the REAL pixel grid, tile it into ``patch``×``patch`` patches (edge
    patches partial, exactly like every vision-transformer preprocessor),
    and emit one row per patch with its channel-mean — the (token grid,
    per-token feature) shape an image-text training pipeline feeds to the
    encoder.  Arrow-batched mapInPandas: no shuffle; the row explosion is
    the patch count, bounded by the image dims.  The tiling is ONE
    vectorized NaN-pad + block-reshape + nanmean per image (r9 review:
    the original per-patch Python loop costs O(patches) interpreter
    iterations per image — 3 k patches for a 224×224 input; the reshape
    kernel is O(1) numpy calls regardless of patch count).  Edge patches
    stay partial: NaN padding + nanmean averages only real pixels."""
    import numpy as np

    def patch_means(arr) -> "np.ndarray":
        if arr.ndim == 2:  # grayscale → single channel
            arr = arr[:, :, None]
        h, w, c = arr.shape
        nh, nw = (h + patch - 1) // patch, (w + patch - 1) // patch
        padded = np.full((nh * patch, nw * patch, c), np.nan)
        padded[:h, :w] = arr
        blocks = padded.reshape(nh, patch, nw, patch, c).transpose(
            0, 2, 1, 3, 4
        )
        return np.nanmean(blocks.reshape(nh, nw, -1), axis=2)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, prs, pcs, means = [], [], [], []
            for i, data in zip(pdf[id_col], pdf["payload"]):
                m = patch_means(_bmp_pixels(bytes(data)))
                nh, nw = m.shape
                grid_r, grid_c = np.indices((nh, nw))
                ids.append(np.full(nh * nw, i, dtype="int64"))
                prs.append(grid_r.ravel())
                pcs.append(grid_c.ravel())
                means.append(m.ravel())
            empty: list = []
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(
                        np.concatenate(ids or [empty]), dtype="int64"
                    ),
                    "patch_row": pd.Series(
                        np.concatenate(prs or [empty]), dtype="int32"
                    ),
                    "patch_col": pd.Series(
                        np.concatenate(pcs or [empty]), dtype="int32"
                    ),
                    "mean_pixel": pd.Series(
                        np.concatenate(means or [empty]), dtype="float64"
                    ),
                }
            )

    return df.select(id_col, "payload").mapInPandas(
        op, "doc_id long, patch_row int, patch_col int, mean_pixel double"
    )
