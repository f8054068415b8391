"""The DuckDB replay oracle on a hand-built change log.

    python3 -m pytest perfbench/tests -q
"""

import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import gen  # noqa: E402
from oracle import Replay  # noqa: E402


ORDERS = gen.TableSpec("orders", ("o_orderkey",), None)


def _seq(n):
    return str(n).zfill(gen.SEQ_WIDTH)


def _batch(path, rows):
    """rows: (o_orderkey, o_totalprice, trx_seq number, deleted)."""
    n = len(rows)
    cols = {
        "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
        "o_custkey": pa.array([1] * n, pa.int64()),
        "o_orderstatus": pa.array(["O"] * n),
        "o_totalprice": pa.array([r[1] for r in rows], pa.float64()),
        "o_orderdate": pa.array([0] * n, pa.timestamp("us", tz="UTC")),
        "o_orderpriority": pa.array(["1-URGENT"] * n),
        "trx_seq": pa.array([_seq(r[2]) for r in rows]),
        "_hoodie_is_deleted": pa.array([r[3] for r in rows]),
    }
    pq.write_table(pa.table(cols), path)
    return path


LOG = [
    # base: keys 1..4
    [(1, 10.0, 1, False), (2, 20.0, 2, False), (3, 30.0, 3, False), (4, 40.0, 4, False)],
    # key 1 changed twice in one batch, the later change listed first;
    # key 2 deleted; key 3: a stale delete (seq 5) listed after an update (seq 6)
    [(1, 12.0, 8, False), (1, 11.0, 7, False), (2, 20.0, 9, True),
     (3, 31.0, 6, False), (3, 30.0, 5, True)],
    # key 2 re-inserted after its delete; key 5 new
    [(2, 22.0, 10, False), (5, 50.0, 11, False)],
]


def _replay(tmp_path):
    rep = Replay(ORDERS)
    for i, rows in enumerate(LOG):
        rep.apply(_batch(tmp_path / f"b{i}.parquet", rows))
        yield rep


def _state(rep, rel):
    return sorted(rep.query(f"SELECT o_orderkey, o_totalprice, trx_seq FROM {rel}"))


def test_round_by_round_state(tmp_path):
    states = [_state(rep, rep.live()) for rep in _replay(tmp_path)]
    assert states[1] == [(1, 12.0, _seq(8)), (3, 31.0, _seq(6)), (4, 40.0, _seq(4))]
    assert states[2] == [(1, 12.0, _seq(8)), (2, 22.0, _seq(10)), (3, 31.0, _seq(6)),
                         (4, 40.0, _seq(4)), (5, 50.0, _seq(11))]


def test_incremental_changes_of_last_batch(tmp_path):
    reps = _replay(tmp_path)
    next(reps)
    rep = next(reps)
    # key 2's winner is a delete, so an incremental read drops it
    assert rep.last_batch_changes() == {(1, _seq(8)), (3, _seq(6))}


def test_full_replay_equals_round_by_round(tmp_path):
    for rep in _replay(tmp_path):
        assert _state(rep, rep.full()) == _state(rep, rep.live())


def test_stale_change_in_a_later_batch_loses(tmp_path):
    *_, rep = _replay(tmp_path)
    rep.apply(_batch(tmp_path / "late.parquet", [(1, 99.0, 3, True), (5, 55.0, 12, False)]))
    live = dict((k, p) for k, p, _ in _state(rep, rep.live()))
    assert live[1] == 12.0 and live[5] == 55.0
    assert _state(rep, rep.full()) == _state(rep, rep.live())
