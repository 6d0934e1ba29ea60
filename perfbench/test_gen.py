"""The generated inputs are a pure function of the seed.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _inputs(seed: int, root: str) -> str:
    rng = np.random.default_rng([seed, 2])
    ev = gen.replicate(gen.events_table(rng, 500), 3, rng, 10**8)
    os.makedirs(root)
    gen.kafka_replay(ev, f"{root}/replay")
    gen.write_fixture(seed, 0.0005, f"{root}/fixture")
    chunk_rng = np.random.default_rng([seed, 4])
    pq.write_table(gen.events_table(chunk_rng, 100), f"{root}/chunk.parquet")
    return gen.tree_hash(root)


def test_same_seed_same_hash_other_seed_other_hash(tmp_path):
    a = _inputs(7, str(tmp_path / "a"))
    assert a == _inputs(7, str(tmp_path / "b"))
    assert a != _inputs(8, str(tmp_path / "c"))


def test_avro_encoding_follows_the_spec():
    # zig-zag varints: 0 -> 00, -1 -> 01, 1 -> 02, 64 -> 80 01; strings are
    # length-prefixed UTF-8; fields in schema order
    assert gen.avro_message("", "", "", 0, "") == b"\x00" * 5
    assert gen.avro_message("a", "", "", -1, "") == b"\x02a\x00\x00\x01\x00"
    assert gen.avro_message("", "", "", 64, "é") == b"\x00\x00\x00\x80\x01\x04\xc3\xa9"


def test_package_decoder_reads_generated_records():
    from flink_kafka_consumer_cassandra_output_spark.sources.avro_py import (
        decode_message_bytes,
    )

    rec = gen.avro_message("42", "user7", "peer3@chat.local", 1_704_067_200_123, "<m/>")
    assert decode_message_bytes(rec) == ("42", "user7", "peer3@chat.local",
                                         1_704_067_200_123, "<m/>")
