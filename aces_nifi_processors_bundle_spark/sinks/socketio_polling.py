"""Stdlib-only Socket.IO client over HTTP long-polling.

The SocketIO sink's production path (sinks/socketio.py) prefers the
python-socketio package, but that package is an OPTIONAL extra and the
sink's contract — push records to any Socket.IO v5 server — should not
silently degrade to "untested" where the extra is absent. This module
implements the client side of the PUBLIC Socket.IO v5 / Engine.IO v4
wire protocol (socket.io protocol documentation; the same bytes the
reference's Java client emits) for the polling transport only, on
nothing but urllib/json/ssl:

Engine.IO v4 polling frames (one HTTP body = packets joined by the
0x1e record separator):
    0{json}   handshake OPEN (server → client, carries the sid)
    2 / 3     ping / pong
    4<data>   MESSAGE — the Socket.IO layer rides inside
    6         noop
Socket.IO v5 packets (inside Engine.IO MESSAGE, so on the wire they
appear as '4' + packet):
    0{json}   namespace CONNECT        → wire '40...'
    1         namespace DISCONNECT     → wire '41'
    2[json]   EVENT [name, ...args]    → wire '42["event","payload"]'
    4{json}   CONNECT_ERROR            → wire '44...'

Long-polling is plain HTTP: emit = POST, receive = GET. No websocket
upgrade is attempted (the client advertises none), which keeps this
~150 lines and dependency-free while remaining a real protocol
implementation any compliant server accepts — the loopback test in
tests/test_socketio_loopback.py drives it against an equally
stdlib-only server, and against python-socketio's server wherever
that package exists.

API mirrors python-socketio v5 ``Client`` (connect/emit/send/
disconnect with the same keyword layout) so the sink's
``client_factory`` injection point treats both interchangeably.

DELIVERY SEMANTICS: ``emit()`` is at-MOST-once for transient
failures (timeouts, resets, where the server may already have
received the packet): the OSError is raised to the caller. The
transparent reconnect-and-resend fires only on a DEFINITE session
expiry (HTTP 400 — the server provably dropped the session, so the
packet provably did not land). Callers that want emit to self-heal
over transients opt in with
``PollingSocketIOClient(resend_transient=True)`` (the mutable
``resend_transient`` instance attribute is also honoured) and accept
the duplicate risk; a RuntimeWarning marks the opt-in at resend time.
"""

from __future__ import annotations

import json
import ssl
import time
import urllib.error
import urllib.parse
import urllib.request
import warnings

RS = "\x1e"  # Engine.IO v4 payload record separator


class PollingSocketIOClient:
    """Socket.IO v5 client, polling transport, stdlib only.

    Keyword layout copies python-socketio's ``Client.connect`` so the
    sink's ``connect(url, wait_timeout=...)`` call binds identically
    against either implementation (the shared signature keeps a
    positional ``wait_timeout`` from binding to the wrong parameter)."""

    def __init__(
        self,
        ssl_context: ssl.SSLContext | None = None,
        request_timeout: float = 10.0,
        resend_transient: bool = False,
    ) -> None:
        self.connected = False
        self._sid: str | None = None
        self._base: str | None = None
        self._ctx = ssl_context
        self._timeout = request_timeout
        # Engine.IO heartbeat bookkeeping: servers ping every
        # pingInterval and DROP the session if no pong lands within
        # pingTimeout. This client has no background thread, so it
        # services the ping channel OPPORTUNISTICALLY — emit()/send()
        # poll-and-pong once a full ping interval has elapsed —
        # which keeps long foreachPartition batches alive (records
        # keep flowing, so so do pongs). A connection idle longer
        # than pingTimeout with NO emits can still be dropped
        # server-side; the sink's burst usage (connect, emit the
        # partition, disconnect) never idles like that. Deployments
        # with long idle gaps should install python-socketio, whose
        # background thread services pings unconditionally.
        self._ping_interval = 25.0
        self._last_rx = 0.0
        # connect() stashes its arguments here so emit() can attempt
        # ONE transparent re-handshake when the server has expired the
        # session (upstream stalled past pingTimeout with no emits)
        self._connect_args: tuple | None = None
        # Opt-in escape hatch: also reconnect+resend on TRANSIENT
        # OSErrors (timeouts, resets), accepting duplicate-delivery
        # risk. Default False = at-most-once for transients; only a
        # definite session expiry (HTTP 400) triggers the resend.
        # A constructor parameter, so the sink's client_factory can
        # bind it at construction; the instance attribute stays
        # writable for callers that set it after construction.
        self.resend_transient = resend_transient

    # -- transport ---------------------------------------------------------

    def _http(self, payload: str | None = None) -> str:
        assert self._base is not None
        url = self._base + (f"&sid={self._sid}" if self._sid else "")
        # the t= cache-buster every Engine.IO client sends (proxies
        # love caching identical polling GETs)
        url += f"&t={time.monotonic_ns():x}"
        req = urllib.request.Request(
            url,
            data=payload.encode("utf-8") if payload is not None else None,
            headers={"Content-Type": "text/plain;charset=UTF-8"},
            method="POST" if payload is not None else "GET",
        )
        with urllib.request.urlopen(
            req, timeout=self._timeout, context=self._ctx
        ) as resp:
            return resp.read().decode("utf-8")

    def _poll(self) -> list[str]:
        return [p for p in self._http().split(RS) if p]

    # -- python-socketio-shaped API ---------------------------------------

    def connect(
        self,
        url,
        headers=None,
        auth=None,
        transports=None,
        namespaces=None,
        socketio_path="socket.io",
        wait=True,
        wait_timeout=1,
        retry=False,
    ) -> None:
        base = url.rstrip("/")
        self._connect_args = (url, auth, socketio_path, wait, wait_timeout)
        self._sid = None
        self._base = (
            f"{base}/{socketio_path.strip('/')}/?EIO=4&transport=polling"
        )
        open_pkt = next(iter(self._http().split(RS)), "")
        if not open_pkt.startswith("0"):
            raise ConnectionError(
                f"engine.io handshake: expected OPEN packet, got "
                f"{open_pkt[:40]!r}"
            )
        hs = json.loads(open_pkt[1:])
        self._sid = hs["sid"]
        self._ping_interval = float(hs.get("pingInterval", 25000)) / 1000.0
        self._last_rx = time.monotonic()
        # Socket.IO namespace CONNECT ('40'), ack arrives via polling
        self._http("40" + (json.dumps(auth) if auth is not None else ""))
        deadline = time.monotonic() + float(wait_timeout)
        while True:
            for pkt in self._poll():
                if pkt.startswith("44"):
                    raise ConnectionError(f"connect refused: {pkt[2:]}")
                if pkt.startswith("40"):
                    self.connected = True
                    return
                if pkt == "2":  # engine.io ping → pong
                    self._http("3")
            if time.monotonic() >= deadline:
                if wait:
                    raise ConnectionError(
                        "no namespace CONNECT ack within wait_timeout"
                    )
                self.connected = True  # fire-and-forget mode
                return

    def _service_heartbeat(self) -> None:
        """Drain the polling channel and answer any pending ping —
        called from emit() once a FULL ping interval has elapsed: the
        server's ping is then already pending (or imminently due), so
        the long-polling GET returns promptly instead of parking the
        emit for up to half an interval (polling any earlier would
        block an idle channel until the server sends SOMETHING)."""
        if time.monotonic() - self._last_rx < self._ping_interval:
            return
        for pkt in self._poll():
            if pkt == "2":
                self._http("3")
        self._last_rx = time.monotonic()

    @staticmethod
    def _is_session_expiry(err: OSError) -> bool:
        """True only for the signals that mean the SERVER dropped the
        sid: an HTTP 400 (Engine.IO answers 'Session ID unknown' /
        'unsupported protocol' with 400) — the one case where a resend
        cannot duplicate, because the failed request was never bound
        to a live session. Timeouts and connection resets on a healthy
        session are NOT expiry: the server may have processed the POST
        and lost only the response, so resending risks duplicates."""
        return (
            isinstance(err, urllib.error.HTTPError) and err.code == 400
        )

    def emit(self, event, data=None, namespace=None, callback=None) -> None:
        """Delivery contract: at-most-once for transient failures
        (timeout / reset on a healthy session — the error propagates,
        no automatic resend, because the server may already have
        processed the lost-response POST), with ONE transparent
        re-handshake + resend ONLY on a definite session expiry
        (HTTP 400 — see _is_session_expiry; no duplicate is possible
        there). Callers who prefer old at-least-once behavior for ALL
        OSErrors set ``resend_transient = True``; each such
        duplicate-risk resend surfaces a RuntimeWarning."""
        if not self.connected:
            raise RuntimeError("not connected")
        arr = [event] if data is None else [event, data]
        payload = "42" + json.dumps(arr, separators=(",", ":"))
        try:
            # heartbeat INSIDE the guarded block: on an expired sid the
            # failure surfaces from the heartbeat's poll GET, not the
            # POST — the idle-past-pingTimeout case is exactly the one
            # the reconnect below exists for
            self._service_heartbeat()
            self._http(payload)
        except OSError as first:
            # Reconnect+resend is gated on a definite expiry signal;
            # a transient failure re-raises unless the caller opted in
            # to at-least-once via resend_transient (then it warns).
            if not self._is_session_expiry(first):
                if not self.resend_transient:
                    raise
                warnings.warn(
                    "socket.io polling emit failed with a transient "
                    f"error ({first!r}); resend_transient=True — "
                    "re-sending with duplicate-delivery risk",
                    RuntimeWarning,
                    stacklevel=2,
                )
            try:
                url, auth, path, wait, wait_timeout = self._connect_args
                self.connected = False
                self.connect(
                    url, auth=auth, socketio_path=path,
                    wait=wait, wait_timeout=wait_timeout,
                )
                self._http(payload)
            except OSError as retry_err:
                raise ConnectionError(
                    "socket.io polling session expired and one reconnect "
                    "attempt failed; for idle-heavy workloads install "
                    "python-socketio (background heartbeat thread). "
                    f"original error: {first!r}"
                ) from retry_err

    def send(self, data, namespace=None, callback=None) -> None:
        # Socket.IO's send() is sugar for the reserved 'message' event
        self.emit("message", data)

    def disconnect(self) -> None:
        if self.connected:
            try:
                self._http("41")
            except OSError:
                pass  # server already gone — disconnect is best-effort
            self.connected = False
