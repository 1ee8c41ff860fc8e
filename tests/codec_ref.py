"""Plain-Python reference for olaf_spark/codec.py's packed row formats: one
row, one value, one byte at a time. The batch encoders and decoders, and
the rows the folds write, are checked against it."""

from __future__ import annotations


def leb128(values) -> bytes:
    out = bytearray()
    for v in values:
        v = int(v)
        while v > 0x7F:
            out.append((v & 0x7F) | 0x80)
            v >>= 7
        out.append(v)
    return bytes(out)


def unleb128(buf) -> list[int]:
    out, cur, shift = [], 0, 0
    for byte in bytes(buf):
        cur |= (byte & 0x7F) << shift
        shift += 7
        if not byte & 0x80:
            out.append(cur)
            cur, shift = 0, 0
    return out


def gaps(values, block_size: int | None = None) -> list[int]:
    """Gaps of one ascending run, absolute at its start and, given
    block_size, at every block start."""
    values = [int(v) for v in values]
    return [
        v if i == 0 or (block_size and i % block_size == 0) else v - values[i - 1]
        for i, v in enumerate(values)
    ]


def ungaps(gs, block_size: int | None = None) -> list[int]:
    out: list[int] = []
    for i, g in enumerate(gs):
        restart = i == 0 or (block_size and i % block_size == 0)
        out.append(g if restart else out[-1] + g)
    return out


def posting_row(ids, tfs, dls, block_size=None, scores=None) -> dict:
    """One posting row's columns (block_size: a postings row, with its
    offs tables; scores: also its block metadata)."""
    cols = {
        "doc_ids_bin": gaps(ids, block_size),
        "tfs_bin": [int(v) for v in tfs],
        "doc_lens_bin": [int(v) for v in dls],
    }
    row = {name: leb128(vals) for name, vals in cols.items()}
    if block_size:
        heads = range(0, len(ids), block_size)
        for name, offs in (("doc_ids_bin", "id_offs"), ("tfs_bin", "tf_offs"),
                           ("doc_lens_bin", "dl_offs")):
            row[offs] = [len(leb128(cols[name][:k])) for k in heads]
        if scores is not None:
            row["block_lasts"] = [int(ids[min(k + block_size, len(ids)) - 1]) for k in heads]
            row["block_maxes"] = [float(max(scores[k:k + block_size])) for k in heads]
    return row


def decode_posting_row(row, block_size=None) -> tuple[list[int], list[int], list[int]]:
    return (
        ungaps(unleb128(row["doc_ids_bin"]), block_size),
        unleb128(row["tfs_bin"]),
        unleb128(row["doc_lens_bin"]),
    )


def positional_row(doc_ids, positions) -> dict:
    """One positional row: doc_ids ascending, positions[d] the ascending
    positions of doc d."""
    runs = [leb128(gaps(p)) for p in positions]
    offs, at = [], 0
    for r in runs:
        offs.append(at)
        at += len(r)
    return {
        "doc_ids_bin": leb128(gaps(doc_ids)),
        "pos_counts_bin": leb128(len(p) for p in positions),
        "pos_bin": b"".join(runs),
        "pos_offs": offs,
    }


def decode_positional_row(row) -> tuple[list[int], list[list[int]]]:
    doc_ids = ungaps(unleb128(row["doc_ids_bin"]))
    vals = unleb128(row["pos_bin"])
    out, at = [], 0
    for c in unleb128(row["pos_counts_bin"]):
        out.append(ungaps(vals[at:at + c]))
        at += c
    return doc_ids, out
