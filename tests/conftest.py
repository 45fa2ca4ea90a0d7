import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SKETCHLIB_TESTDATA", "/root/testdata")
SEQ_TINY_ROWS = 2_000
SEQ_SMALL_ROWS = 20_000


@pytest.fixture(scope="session")
def spark():
    from sketchlib.spark import get_spark

    s = get_spark("sketchlib-tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def seq_tiny_dir(tmp_path_factory):
    from sketchlib.data.gen import write_sequences

    d = str(tmp_path_factory.mktemp("seq") / "tiny")
    write_sequences(d, SEQ_TINY_ROWS)
    return d


@pytest.fixture(scope="session")
def seq_small_dir(tmp_path_factory):
    from sketchlib.data.gen import write_sequences

    d = str(tmp_path_factory.mktemp("seq") / "small")
    write_sequences(d, SEQ_SMALL_ROWS)
    return d


@pytest.fixture(scope="session")
def rng():
    return np.random.default_rng(42)


@pytest.fixture(scope="session")
def canonical_fold():
    """{(group, sketch): state bytes} of state rows, each key's rows folded
    in the documented canonical order — (part_id, state bytes), a row
    without part_id as -1 — written out apart from the library's merge, so
    a test can pin that order on any route."""
    from sketchlib.sketches import deserialize

    def fold(rows):
        by_key = {}
        for r in rows:
            by_key.setdefault((r["group"], r["sketch"]), []).append(r)
        out = {}
        for key, rs in by_key.items():
            rs = sorted(rs, key=lambda r: (r.get("part_id", -1), bytes(r["state"])))
            acc = deserialize(rs[0]["state"])
            for r in rs[1:]:
                acc.merge(deserialize(r["state"]))
            out[key] = acc.to_bytes()
        return out

    return fold
