"""Open-loop order-tick generator for the pickup stream.

A thread serves one TCP connection on localhost (Spark's ``socket``
source connects to it) and writes one line per order tick,
``"<value> <due_us>"``, on a fixed schedule of ``rate`` ticks per second
that never waits for the consumer. Tick ``i`` is due at
``t0 + i / rate``, where ``t0`` is when Spark connected, and carries that
due time, so latency is measured from when the order was due to be sent.

Spark's ``rate`` source would serve the same ticks, but only in whole
seconds of offsets: with micro-batches near one second long, that
granularity alone decides whether a batch holds one or two seconds of
orders, and latency jumps between runs.
"""

from __future__ import annotations

import socket
import threading
import time

SEND_PERIOD_S = 0.005


class TickServer(threading.Thread):
    def __init__(self, rate: int) -> None:
        super().__init__(daemon=True)
        self.rate = rate
        self._srv = socket.create_server(("127.0.0.1", 0))
        self.port = self._srv.getsockname()[1]
        self.t0: float | None = None
        self.sent = 0
        self.max_lag_s = 0.0  # how late the generator ran behind schedule
        self._stop_evt = threading.Event()

    def due(self, i: int) -> float:
        return self.t0 + i / self.rate

    def run(self) -> None:
        self._srv.settimeout(0.2)
        conn = None
        while conn is None and not self._stop_evt.is_set():
            try:
                conn, _ = self._srv.accept()
            except TimeoutError:
                continue
        if conn is None:
            return
        conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.t0 = time.time()
        with conn:
            while not self._stop_evt.wait(SEND_PERIOD_S):
                now = time.time()
                upto = int((now - self.t0) * self.rate) + 1
                if upto <= self.sent:
                    continue
                self.max_lag_s = max(self.max_lag_s, now - self.due(self.sent))
                lines = "".join(
                    f"{i} {int(self.due(i) * 1e6)}\n" for i in range(self.sent, upto)
                )
                try:
                    conn.sendall(lines.encode())
                except OSError:  # the consumer closed the stream
                    break
                self.sent = upto

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self._srv.close()
