"""Minimal client side of the basenine line protocol: one TCP
connection per call, newline-framed text, ``/metadata {...}`` frames,
``%quit%`` at the end of a page.  Deliberately independent of
``basenine_spark.client``."""

from __future__ import annotations

import json
import socket
from typing import Optional

QUIT = "%quit%"
META = "/metadata "


class Conn:
    def __init__(self, port: int, timeout: float = 60.0, sndbuf: int = 0):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        if sndbuf:
            self.sock.setsockopt(socket.SOL_SOCKET, socket.SO_SNDBUF, sndbuf)
        self.buf = bytearray()

    def send_lines(self, *lines: str) -> None:
        self.sock.sendall(("".join(l + "\n" for l in lines)).encode())

    def send_raw(self, data: bytes) -> None:
        self.sock.sendall(data)

    def feed(self) -> bool:
        """Read what is available into the buffer; False on EOF."""
        chunk = self.sock.recv(1 << 16)
        if not chunk:
            return False
        self.buf += chunk
        return True

    def pop_lines(self) -> list[str]:
        i = self.buf.rfind(b"\n")
        if i < 0:
            return []
        out = self.buf[:i].decode().split("\n")
        del self.buf[: i + 1]
        return out

    def readline(self) -> Optional[str]:
        while True:
            i = self.buf.find(b"\n")
            if i >= 0:
                line = self.buf[:i].decode()
                del self.buf[: i + 1]
                return line
            if not self.feed():
                return None

    def close(self) -> None:
        try:
            self.sock.close()
        except OSError:
            pass


def call(port: int, *lines: str) -> Optional[str]:
    """A one-reply mode (/validate, /single, /insert-filter, /macro)."""
    c = Conn(port)
    try:
        c.send_lines(*lines)
        return c.readline()
    finally:
        c.close()


def validate(port: int, text: str) -> Optional[str]:
    return call(port, "/validate", text)


def single(port: int, index: int, query: str) -> Optional[str]:
    return call(port, "/single", str(index), query)


def insertion_filter(port: int, text: str) -> Optional[str]:
    return call(port, "/insert-filter", text)


def fetch(port: int, left_off, direction: int, query: str, limit: int):
    """One /fetch page → ``(records, frames)``; frames are the parsed
    ``/metadata`` objects (one precedes each record; a trailing one may
    follow).  Raises ``RuntimeError`` on an error reply."""
    c = Conn(port)
    try:
        c.send_lines("/fetch", str(left_off), str(direction), query, str(limit))
        records, frames = [], []
        while True:
            line = c.readline()
            if line is None or line == QUIT:
                return records, frames
            if line.startswith(META):
                frames.append(json.loads(line[len(META):]))
            elif line.startswith("{"):
                records.append(line)
            else:
                raise RuntimeError(line)
    finally:
        c.close()


def visible_total(port: int) -> int:
    """Docs the daemon reports via a one-record ``/fetch latest``."""
    try:
        _, frames = fetch(port, "latest", -1, "", 1)
    except RuntimeError:  # an empty store answers with an error line
        return 0
    return frames[-1]["total"] if frames else 0


def follow(port: int, query: str) -> Conn:
    """Open a ``/query`` follow connection from the first record (an
    empty leftOff; the string "0" would be a resume token and skip
    record 0)."""
    c = Conn(port, timeout=None)
    c.send_lines("/query", "", query)
    return c
