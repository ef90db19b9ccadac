"""Fs.read_text: the chunked read round-trips every size, and no py4j
response it causes outgrows the JVM side's 8,192-char buffer (a longer
one stalls ~44 ms; see the fsio module docstring)."""

import math

import pytest
from py4j import clientserver

from from_superset_to_clickhouse_spark.fsio import CHUNK, PY4J_RESPONSE_CHARS, Fs


def _write(path, data: bytes) -> str:
    path.write_bytes(data)
    return str(path)


def test_chunk_fits_py4j_response_buffer():
    # A byte[] comes back as "!yj" + base64 + "\n".
    framed = 4 * math.ceil(CHUNK / 3) + len("!yj\n")
    assert framed <= PY4J_RESPONSE_CHARS


@pytest.mark.parametrize(
    "size", [0, 1, CHUNK - 1, CHUNK, CHUNK + 1, 3 * CHUNK + 7]
)
def test_read_text_round_trip(spark, tmp_path, size):
    text = "".join(chr(ord("a") + i % 26) for i in range(size))
    path = _write(tmp_path / "f.json", text.encode("utf-8"))
    assert Fs(spark, str(tmp_path)).read_text(path) == text


def test_read_text_multibyte_char_straddles_chunk_boundary(spark, tmp_path):
    # "€" is 3 UTF-8 bytes: it starts one byte before the boundary.
    text = "a" * (CHUNK - 1) + "€" + "b" * 10
    assert text.encode("utf-8")[CHUNK - 1:CHUNK + 2] == "€".encode("utf-8")
    path = _write(tmp_path / "f.json", text.encode("utf-8"))
    assert Fs(spark, str(tmp_path)).read_text(path) == text


def test_read_text_responses_fit_py4j_buffer(spark, tmp_path, monkeypatch):
    fs = Fs(spark, str(tmp_path))
    path = _write(tmp_path / "big.json", b"x" * 100_000)
    sent = clientserver.JavaClient.send_command
    wire = []

    def spy(self, command):
        answer = sent(self, command)
        wire.append(len(answer) + 2)  # the "!" and "\n" send_command strips
        return answer

    monkeypatch.setattr(clientserver.JavaClient, "send_command", spy)
    assert len(fs.read_text(path)) == 100_000
    assert max(wire) <= PY4J_RESPONSE_CHARS
    assert len(wire) > 100_000 // CHUNK
