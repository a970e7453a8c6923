"""The input-sized session rule (levi_spark.session.sized_session_conf)
must reproduce the three MEASURED tier configs from the scaling curve:

* sf0.1  (~17 MB on disk)  -> 32 shuffle partitions, 8g driver (green)
* 10x/20x (~170/340 MB)    -> 32 partitions, 8g (green, BENCH_SF1)
* 100x   (~1.7 GB)         -> 128 partitions, 32g (the config that ran
  the tier green after the 8g/32 config OOM'd orders_market_basket —
  BENCH_SF10.json config note)

The rule exists so the 100x lesson is code, not a recorded knob.
"""

import os

from levi_spark.session import dir_bytes, sized_session_conf

MB = 1 << 20
GB = 1 << 30


def test_rule_reproduces_measured_tiers():
    assert sized_session_conf(17 * MB, cpus=32) == {
        "shuffle_partitions": 32,
        "driver_memory": "8g",
    }
    assert sized_session_conf(170 * MB, cpus=32) == {
        "shuffle_partitions": 32,
        "driver_memory": "8g",
    }
    assert sized_session_conf(340 * MB, cpus=32) == {
        "shuffle_partitions": 32,
        "driver_memory": "8g",
    }
    big = sized_session_conf(int(1.7 * GB), cpus=32)
    assert big == {"shuffle_partitions": 128, "driver_memory": "32g"}


def test_rule_shapes():
    # partitions are full waves of the core count and monotone in bytes
    prev = 0
    for b in (0, MB, 100 * MB, GB, 10 * GB, 100 * GB):
        conf = sized_session_conf(b, cpus=32)
        assert conf["shuffle_partitions"] % 32 == 0
        assert conf["shuffle_partitions"] >= prev
        prev = conf["shuffle_partitions"]
    # driver memory is clamped to [8g, 64g]
    assert sized_session_conf(0, cpus=32)["driver_memory"] == "8g"
    assert sized_session_conf(1 << 40, cpus=32)["driver_memory"] == "64g"
    # different core counts keep the full-wave property
    assert sized_session_conf(int(1.7 * GB), cpus=8)["shuffle_partitions"] % 8 == 0


def test_dir_bytes_walks_tree(tmp_path):
    (tmp_path / "a.parquet").write_bytes(b"x" * 1000)
    sub = tmp_path / "nested"
    sub.mkdir()
    (sub / "b.bin").write_bytes(b"y" * 500)
    assert dir_bytes(str(tmp_path)) == 1500
    assert dir_bytes(str(tmp_path / "a.parquet")) == 1000


def test_sf01_testdata_sizes_like_the_small_tier():
    sf = "/root/testdata/sf0.1"
    if not os.path.isdir(sf):
        return
    conf = sized_session_conf(dir_bytes(sf), cpus=32)
    assert conf == {"shuffle_partitions": 32, "driver_memory": "8g"}


def test_unset_cpu_variable_sizes_to_affinity(monkeypatch):
    # an unset SPARK_GRAFT_CPUS means the cores this process may run
    # on, not a fixed width
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    conf = sized_session_conf(17 * MB)
    assert conf["shuffle_partitions"] == len(os.sched_getaffinity(0))
