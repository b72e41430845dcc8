"""The wire origin for the crawl benchmark: the synthetic web served as HTML
over keep-alive HTTP/1.1, in its own process.

Each page body is ``htmlpage.render_html(webgraph.fetch_page(u))``; pages the
synthetic web marks failed answer 503, as the fetcher expects. The server is
one asyncio thread (at most ``nproc`` threads, as rendering holds the GIL
anyway). Every response -- status line, headers and body -- leaves in ONE
socket write with ``TCP_NODELAY`` set, so a keep-alive request never waits
on Nagle plus the client's delayed ACK.

Counters (page requests, connections that carried one, seconds spent
rendering) are served on ``GET /_stats`` as JSON; stats requests are not
counted.

Run: ``python3 perfbench/origin.py --port-file PATH``. The port is written
to PATH once the socket listens; SIGTERM, or the exit of the process that
started it, stops the server.
"""

from __future__ import annotations

import argparse
import asyncio
import json
import os
import signal
import socket
import sys
import time
import urllib.parse

sys.path.insert(0, os.getcwd())

from deepcrawl4ai_spark.frontier import webgraph as WG  # noqa: E402
from deepcrawl4ai_spark.frontier.htmlpage import render_html  # noqa: E402

_REASONS = {200: "OK", 400: "Bad Request", 404: "Not Found", 503: "Service Unavailable"}


class Origin:
    def __init__(self) -> None:
        self.requests = 0
        self.connections = 0
        self.busy_s = 0.0

    def stats(self) -> dict:
        return {
            "requests": self.requests,
            "connections": self.connections,
            "busy_s": self.busy_s,
        }

    def respond(self, target: str) -> tuple[int, bytes, str]:
        parsed = urllib.parse.urlsplit(target)
        if parsed.path == "/_stats":
            return 200, json.dumps(self.stats()).encode(), "application/json"
        if parsed.path != "/page":
            return 404, b"not found", "text/plain"
        u = urllib.parse.parse_qs(parsed.query).get("u", [""])[0]
        if not u:
            return 400, b"missing u", "text/plain"
        t0 = time.perf_counter()
        page = WG.fetch_page(u)
        if page.fetch_status == "success":
            out = 200, render_html(page).encode(), "text/html; charset=utf-8"
        else:
            out = 503, b"synthetic upstream failure", "text/plain"
        self.busy_s += time.perf_counter() - t0
        self.requests += 1
        return out

    async def serve_conn(
        self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter
    ) -> None:
        sock = writer.get_extra_info("socket")
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        counted = False  # a connection counts once it carries a page request
        try:
            while True:
                head = await reader.readuntil(b"\r\n\r\n")
                lines = head.decode("latin-1").split("\r\n")
                _method, target, _version = lines[0].split(" ", 2)
                close = any(
                    ln.lower().replace(" ", "") == "connection:close" for ln in lines[1:]
                )
                if not counted and target.startswith("/page"):
                    self.connections += 1
                    counted = True
                status, body, ctype = self.respond(target)
                writer.write(
                    (
                        f"HTTP/1.1 {status} {_REASONS[status]}\r\n"
                        f"Content-Type: {ctype}\r\n"
                        f"Content-Length: {len(body)}\r\n"
                        + ("Connection: close\r\n" if close else "")
                        + "\r\n"
                    ).encode("latin-1")
                    + body
                )
                await writer.drain()
                if close:
                    break
        except (asyncio.IncompleteReadError, ConnectionError):
            pass
        finally:
            writer.close()


async def _main(port_file: str) -> None:
    origin = Origin()
    server = await asyncio.start_server(origin.serve_conn, "127.0.0.1", 0)
    port = server.sockets[0].getsockname()[1]
    tmp = port_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(port))
    os.replace(tmp, port_file)
    stop = asyncio.Event()
    loop = asyncio.get_running_loop()
    loop.add_signal_handler(signal.SIGTERM, stop.set)
    loop.add_signal_handler(signal.SIGINT, stop.set)
    watch = asyncio.create_task(_exit_with_parent(os.getppid(), stop))
    async with server:
        await stop.wait()
    watch.cancel()


async def _exit_with_parent(ppid: int, stop: asyncio.Event) -> None:
    """Stop when the benchmark that started this process is gone, so a
    killed run leaves no origin behind."""
    while os.getppid() == ppid:
        await asyncio.sleep(1.0)
    stop.set()


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--port-file", required=True)
    asyncio.run(_main(ap.parse_args().port_file))
