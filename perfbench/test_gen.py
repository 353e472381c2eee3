"""Tests of the seeded input generator: ``python3 -m pytest perfbench -q``."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

SMALL = dict(n_users=50, n_events=2_000, n_spine=300, days=5)


def _all_inputs(seed, root):
    paths = gen.store_inputs(seed, os.path.join(root, "store"), **SMALL)
    paths.update(
        {f"rs_{k}": v for k, v in gen.refresh_inputs(seed, os.path.join(root, "rs"), 50, 1_000, 3).items()}
    )
    paths.update({f"sf_{k}": v for k, v in gen.sf_tables(seed, os.path.join(root, "sf"), 0.001).items()})
    return paths


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _all_inputs(7, str(tmp_path / "a"))
    b = _all_inputs(7, str(tmp_path / "b"))
    assert a.keys() == b.keys()
    for name in a:
        with open(a[name], "rb") as fa, open(b[name], "rb") as fb:
            assert fa.read() == fb.read(), name
    assert gen.fingerprint(a) == gen.fingerprint(b)


def test_different_seed_gives_different_inputs(tmp_path):
    a = _all_inputs(7, str(tmp_path / "a"))
    b = _all_inputs(8, str(tmp_path / "b"))
    assert gen.fingerprint(a) != gen.fingerprint(b)
    for name in ("events", "spine", "sf_lineitem", "sf_documents"):
        with open(a[name], "rb") as fa, open(b[name], "rb") as fb:
            assert fa.read() != fb.read(), name


def test_batches_and_keys_depend_only_on_seed_and_index():
    b3 = gen.refresh_batch(5, 3, 50, 100, 1_000, 3)
    assert b3.equals(gen.refresh_batch(5, 3, 50, 100, 1_000, 3))
    assert not b3.equals(gen.refresh_batch(5, 2, 50, 100, 1_000, 3))
    ids = b3.column("event_id").to_pylist()
    assert ids == list(range(1_000 + 3 * 100, 1_000 + 4 * 100))
    assert gen.zipf_keys(5, 1, 40, 50, 0.05) == gen.zipf_keys(5, 1, 40, 50, 0.05)
    assert gen.zipf_keys(5, 1, 40, 50, 0.05) != gen.zipf_keys(6, 1, 40, 50, 0.05)


def test_event_times_are_distinct_and_increasing():
    ts = gen._event_times(gen.rng_for(1, 0), 1_000, 0, 10_000_000)
    assert (ts[1:] > ts[:-1]).all()
