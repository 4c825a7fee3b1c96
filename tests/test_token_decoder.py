"""The Arrow token decoder (code points -> string), run the way the
pipeline runs it: through the make_decoder_fn mapInArrow batch function,
on a sliced batch whose list offsets do not start at 0."""

import pyarrow as pa

from sparklog.udfs import make_decoder_fn

ROWS = [
    [ord(c) for c in "<34>Oct 11 22:14:15 h su: x"],  # ASCII
    [],
    [0xE9, 0x20AC, 0x1F600],      # 2-, 3- and 4-byte UTF-8
    [ord("a"), 0x7F, 0x80, ord("b")],  # 1/2-byte boundary
    [0x7FF, 0x800, 0xFFFF, 0x10000, 0x10FFFF],  # 2/3/4-byte boundaries
    [],
    [ord(c) for c in "plain ascii"],
]


def _decode(rows, start, stop):
    tokens = pa.array(rows, pa.list_(pa.int32()))
    batch = pa.RecordBatch.from_arrays(
        [pa.array([f"d{i}" for i in range(len(rows))]), tokens],
        names=["doc_id", "tokens"]).slice(start, stop - start)
    assert batch.column("tokens").offsets[0].as_py() != 0
    (out,) = list(make_decoder_fn()(iter([batch])))
    assert out.schema.names == ["doc_id", "raw"]
    assert out.column("doc_id").to_pylist() == [
        f"d{i}" for i in range(start, stop)]
    return out.column("raw").to_pylist()


def test_decoder_mixed_width_sliced_batch():
    # the slice also ends before the last row: values past it are ignored
    got = _decode(ROWS, 1, len(ROWS) - 1)
    assert got == ["".join(map(chr, t)) for t in ROWS[1:-1]]


def test_decoder_ascii_sliced_batch():
    rows = [r for r in ROWS if all(c < 0x80 for c in r)]
    got = _decode(rows, 1, len(rows))
    assert got == ["".join(map(chr, t)) for t in rows[1:]]
