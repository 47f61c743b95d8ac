"""The receiver's frame parser against the engine's own golden frames."""

import pytest

from kstreams_spark.sinks.mqtt_wire import (
    DISCONNECT_PACKET,
    connect_packet,
    publish_packet,
)
from loadgen import CONNECT, DISCONNECT, PUBLISH, FrameParser, parse_connect, parse_publish


def test_connect_publish_disconnect_stream():
    stream = (
        connect_packet("cid-1")
        + publish_packet("bme680warning", b"Temperature warning 82.74")
        + publish_packet("bme680warning", b"Temperature warning 99.99", retain=False)
        + DISCONNECT_PACKET
    )
    frames = FrameParser().feed(stream)
    assert [f[0] for f in frames] == [CONNECT, PUBLISH, PUBLISH, DISCONNECT]
    assert parse_connect(frames[0][2]) == "cid-1"
    assert parse_publish(frames[1][1], frames[1][2]) == (
        "bme680warning",
        b"Temperature warning 82.74",
    )
    assert frames[1][1] & 0x01 == 1  # retain flag
    assert frames[2][1] & 0x01 == 0


def test_frames_split_across_reads():
    stream = publish_packet("t", b"x" * 300) + publish_packet("t", b"y")
    p = FrameParser()
    frames = []
    for i in range(len(stream)):  # one byte per read
        frames += p.feed(stream[i : i + 1])
    assert [parse_publish(f, b)[1] for _, f, b in frames] == [b"x" * 300, b"y"]


def test_multi_byte_remaining_length():
    payload = b"z" * 20_000  # remaining length needs three varint bytes
    (ptype, flags, body), = FrameParser().feed(publish_packet("topic", payload))
    assert ptype == PUBLISH
    assert parse_publish(flags, body) == ("topic", payload)


def test_qos_above_zero_is_refused():
    with pytest.raises(ValueError):
        parse_publish(0x02, b"\x00\x01tX")


def test_malformed_remaining_length_raises():
    with pytest.raises(ValueError):
        FrameParser().feed(bytes([0x30, 0xFF, 0xFF, 0xFF, 0xFF, 0x01]))
