"""Multimodal plumbing: the deterministic fake decode every multimodal
query runs in place of a real media codec."""

from mqtt2sql_spark.plans.multimodal import fake_decode_meta


def test_fake_decode_is_deterministic():
    a = fake_decode_meta(b"hello world")
    assert a == fake_decode_meta(b"hello world")
    n = len(b"hello world")
    assert a == (n, 64 + n % 512, 64 + (n * 7) % 512, 3, b"h"[0])
