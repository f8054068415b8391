"""Seeded inputs: the same seed lands the same bytes, another seed does not.

    python3 -m pytest perfbench/tests -q
"""

import sys
from pathlib import Path

import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import gen  # noqa: E402

MIX = gen.BatchMix(upd=50, rep=10, stale=5, dele=10, reins=5, new=5)


def _stream(seed):
    s = gen.ChangeStream(2_000, MIX, seed)
    return [s.base_table()] + [s.next_batch() for _ in range(4)]


def test_same_seed_same_batches():
    a, b = _stream(7), _stream(7)
    assert all(x.equals(y) for x, y in zip(a, b))


def test_other_seed_other_batches():
    a, b = _stream(7), _stream(8)
    assert not a[1].equals(b[1])


def test_batch_make_up():
    batches = _stream(3)
    # the first batch has no deleted key to re-insert yet
    assert batches[1].num_rows == MIX.rows - MIX.reins
    for t in batches[2:]:
        assert t.num_rows == MIX.rows
        assert sum(t.column("_hoodie_is_deleted").to_pylist()) == MIX.stale + MIX.dele
        keys = list(zip(t.column("l_orderkey").to_pylist(), t.column("l_linenumber").to_pylist()))
        # keys changed twice in the batch: repeats and stale pairs
        assert len(keys) - len(set(keys)) == MIX.rep + MIX.stale
        seqs = t.column("trx_seq").to_pylist()
        assert len(set(seqs)) == len(seqs) and all(len(x) == gen.SEQ_WIDTH for x in seqs)
        assert seqs != sorted(seqs)  # file order is not change order


def test_sequence_grows_across_batches():
    batches = _stream(3)
    for prev, nxt in zip(batches, batches[1:]):
        assert max(prev.column("trx_seq").to_pylist()) < min(nxt.column("trx_seq").to_pylist())


def test_corpus_is_seeded(tmp_path):
    a = gen.write_corpus(tmp_path / "a", 5)
    b = gen.write_corpus(tmp_path / "b", 5)
    c = gen.write_corpus(tmp_path / "c", 6)
    for name in ("lineitem", "documents", "embeddings", "events"):
        ta, tb, tc = (pq.read_table(d / f"{name}.parquet") for d in (a, b, c))
        assert ta.equals(tb)
        assert not ta.equals(tc)
