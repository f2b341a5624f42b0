"""HTTP API surface — the reference's `/api/v0/*` endpoints over Spark.

Reference endpoints re-expressed (same paths, same wire formats):
- ``POST /api/v0/exec``   — WarpScript execution, JSON stack response
  top-first (EgressExecHandler.java:214; errors come back as HTTP 500
  with ``X-Warp10-Error-Message``, not a body traceback).
- ``GET  /api/v0/fetch``  — selector + time-range fetch, ``format=``
  text (GTS input format), tsv or json (EgressFetchHandler.java:1077).
- ``POST /api/v0/update`` — GTS text-format ingest
  (StandaloneIngressHandler.java:185): lines parse with the batch
  parser and append to the write buffer as parquet.
- ``POST /api/v0/delete`` — selector (+ optional range) delete
  (StandaloneDeleteHandler): recorded as a TOMBSTONE applied at read —
  merge-on-read, the way a 100 TB lake deletes (rewriting the base
  store synchronously inside an HTTP request would be absurd at scale;
  compaction folds tombstones in later).
- ``POST /api/v0/meta``   — attribute upsert (META delta semantics,
  StandaloneIngressHandler.java:797): recorded as a read-time overlay.
- ``GET  /api/v0/find``   — directory search (EgressFindHandler),
  never touches the points store.

Architecture notes (Spark-first, not a port): one shared SparkSession
serves every request — Spark schedules concurrent jobs from multiple
handler threads natively, which is exactly the reference's egress
thread-pool model. The mutable state (buffer / tombstones / meta
overlay) lives in a store directory; reads compose
``base ∪ buffer → LWW → ¬tombstones → meta-overlay`` lazily, so every
HTTP fetch is still one declarative Catalyst plan with pushdown intact.
"""

from __future__ import annotations

import json
import os
import threading
import time
from warp10_platform_spark.core import timeunits as _tuc
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, functions as F

API = "/api/v0"


class PlasmaHub:
    """In-process Plasma pub-sub (standalone topology): /update and
    /streamupdate ingests publish their GTS text lines; each plasma WS
    session holds selector subscriptions and receives matching lines as
    TEXT frames (StandalonePlasmaHandler.java's OUTPUT_FORMAT.TEXT push).

    Scale note: this is the reference's STANDALONE wiring (ingress and
    plasma in one process). The distributed reference fans out through
    Kafka plasma topics (continuum/plasma/PlasmaBackEnd.java →
    PlasmaFrontEnd.java); on a cluster the same hub contract would sit
    behind the kafka / kafka-shaped streaming source instead."""

    # Per-subscriber outbound queue depth. A subscriber that stops
    # reading long enough to fill it is EVICTED (connection closed)
    # rather than allowed to stall ingest — publish never blocks on a
    # peer's socket (the reference's sendStringByFuture is likewise
    # async; Jetty evicts on write-buffer exhaustion).
    MAX_QUEUE = 1024

    def __init__(self):
        import re as _re

        from warp10_platform_spark.sources.gts_text import GTS_LINE_RE

        self._lock = threading.Lock()
        self._subs: dict[int, tuple] = {}  # id(conn) -> (conn, [(raw, Selector)], Queue)
        self._line_re = _re.compile(GTS_LINE_RE)

    def register(self, conn):
        import queue

        q: "queue.Queue[str | None]" = queue.Queue(maxsize=self.MAX_QUEUE)
        with self._lock:
            self._subs[id(conn)] = (conn, [], q)

        def drain():
            # Terminates on: stop sentinel, conn no longer open (evicted
            # or session ended — checked even when the sentinel was
            # dropped by a full queue), or a send failure. Never sends
            # to a closed connection (no frames after Close).
            while True:
                try:
                    item = q.get(timeout=5)
                except queue.Empty:
                    if not getattr(conn, "open", False):
                        return
                    continue
                if item is None or not getattr(conn, "open", False):
                    return
                try:
                    conn.send_text(item)
                except Exception:  # noqa: BLE001 — dead peer
                    self.deregister(conn)
                    return

        t = threading.Thread(target=drain, daemon=True, name="plasma-writer")
        t.start()
        return q

    def deregister(self, conn) -> None:
        with self._lock:
            entry = self._subs.pop(id(conn), None)
        if entry:
            try:
                entry[2].put_nowait(None)  # stop the writer thread
            except Exception:  # noqa: BLE001 — full queue: the writer's
                pass  # open-check (drain loop) reaps it instead

    def subscribe(self, conn, raw: str, sel) -> None:
        with self._lock:
            entry = self._subs.get(id(conn))
            if entry is not None:  # may have been evicted concurrently
                entry[1].append((raw, sel))

    def unsubscribe(self, conn, raw: str) -> None:
        with self._lock:
            entry = self._subs.get(id(conn))
            if entry:
                entry[1][:] = [(r, s) for (r, s) in entry[1] if r != raw]

    def publish(self, text: str) -> None:
        """Push every ingested line to the subscribers whose selectors
        match its (class, labels) — driver-side matching via the same
        clause semantics the fetch predicate compiles (selector.matches)."""
        from warp10_platform_spark.core.selector import matches

        with self._lock:
            subs = list(self._subs.values())
        if not subs:
            return
        parsed = []
        for ln in text.splitlines():
            ln = ln.strip()
            m = self._line_re.match(ln)
            if not m:
                continue
            labels = dict(
                kv.split("=", 1) for kv in (m.group(7) or "").split(",") if "=" in kv
            )
            parsed.append((ln, m.group(6), labels))
        import queue as _queue

        for conn, sels, q in subs:
            out = [
                ln for (ln, cls, labels) in parsed
                if any(matches(s, cls, labels) for (_r, s) in sels)
            ]
            if out:
                try:
                    q.put_nowait("\n".join(out) + "\n")
                except _queue.Full:
                    # Laggard eviction: never block ingest on a slow peer.
                    # abort(), not close() — a graceful Close frame would
                    # wait on the write lock the stalled writer holds.
                    self.deregister(conn)
                    if hasattr(conn, "abort"):
                        conn.abort()
                    else:
                        conn.close(1013, "subscriber too slow")


class Store:
    """Mutable overlay on the immutable base lake.

    - ``base_<ms>/``      the checkpointed base, partitioned by class
      (before the first checkpoint: the ``events`` points of ``sf_dir``)
    - ``buffer/bNNNNNN``  one parquet batch per /update (LWW over base)
    - ``tombstones.json`` list of {selector, start, end} from /delete
    - ``meta.json``       list of {selector, attributes} from /meta

    Batch ids are unique and increase in write order, across restarts
    too: a new Store continues after the highest ``bNNNNNN`` already in
    ``buffer/`` (an offset log in the Structured Streaming sense), so a
    restart never overwrites an acknowledged batch.

    A read is ``base ∪ all buffers → LWW → ¬tombstones → meta`` as one
    lazy plan; the LWW is a single pass over the union, whatever the
    number of buffers (``sources.write.update``).  ``checkpoint()`` lists
    the overlay once, writes that listing folded into a new base, then
    deletes exactly the listed buffers and drops exactly the listed
    JSON entries: a write that lands while the base is written survives
    it and stays on top of the new base.

    A base dir and a committed batch dir are write-once: nothing changes
    inside them until they are deleted.  Two memos rest on that:

    - ``_scans`` maps each such dir to its scan ``DataFrame``, so a dir
      is listed and its schema inferred at most once (a batch this Store
      writes is primed with the schema it was written with, and never
      inferred).  It holds only dirs of the current listing:
      ``checkpoint()`` drops the dirs it folds.
    - ``_plan`` is the composed plan of the last listing, keyed on the
      listing itself (base dir, batch dirs, tombstone and meta entries):
      ``points()`` returns that same ``DataFrame`` until an /update,
      /delete, /meta or a checkpoint changes the listing.

    A checkpoint keeps the previous base on disk and deletes only the
    bases before it, so a plan taken before the checkpoint can still be
    run; a plan that outlives two checkpoints cannot.
    """

    def __init__(self, spark, sf_dir: str, store_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self.dir = store_dir
        self._buf = os.path.join(store_dir, "buffer")
        os.makedirs(self._buf, exist_ok=True)
        self._lock = threading.Lock()
        self._checkpoint_lock = threading.Lock()
        self._batch_id = max(self._batch_ids(), default=0)
        self._scans: dict[str, DataFrame] = {}
        self._plan: tuple[tuple, DataFrame] | None = None
        self.hub = PlasmaHub()
        # a prior checkpoint() may have produced an owned base snapshot
        bases = sorted(d for d in os.listdir(store_dir) if d.startswith("base_"))
        self._base_dir = os.path.join(store_dir, bases[-1]) if bases else None

    def _batch_ids(self) -> list[int]:
        """Ids of the batch dirs in ``buffer/``, oldest first (numeric
        order: ids outgrow the 6-digit padding)."""
        return sorted(
            int(d[1:]) for d in os.listdir(self._buf) if d[:1] == "b" and d[1:].isdigit()
        )

    # ---- write paths -------------------------------------------------
    def append_update(self, text: str) -> int:
        """Append the parsed lines of ``text`` as one batch; returns the
        number of lines accepted (the reference 500s on bad lines; we
        report the accepted count in a header instead).  One Spark job:
        the count is observed on the write itself."""
        from pyspark.sql import Observation

        from warp10_platform_spark.sources.gts_text import parse

        lines = [ln for ln in text.splitlines() if ln.strip()]
        if not lines:
            return 0
        now_us = int(time.time() * _tuc.UNITS_PER_S)
        pts = parse(self.spark, lines, default_ts=now_us)
        with self._lock:
            self._batch_id += 1
            sub = os.path.join(self._buf, f"b{self._batch_id:06d}")
        obs = Observation()
        pts.observe(obs, F.count(F.lit(1)).alias("n")).write.parquet(sub)
        # prime the scan memo: this batch is never listed or inferred again
        self._remember(sub, self.spark.read.schema(pts.schema).parquet(sub))
        # committed → push to Plasma subscribers (the reference's
        # StandaloneIngressHandler also publishes post-store)
        self.hub.publish(text)
        return obs.get["n"]

    def _write_json(self, name: str, items: list) -> None:
        path = os.path.join(self.dir, name)
        if not items:
            if os.path.exists(path):
                os.remove(path)
            return
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(items, f)
        os.replace(tmp, path)

    def _append_json(self, name: str, entry: dict) -> None:
        with self._lock:
            self._write_json(name, self._load_json(name) + [entry])

    def add_tombstone(self, selector: str, start: int | None, end: int | None) -> None:
        self._append_json("tombstones.json", {"selector": selector, "start": start, "end": end})

    def add_meta(self, selector: str, attributes: dict) -> None:
        self._append_json("meta.json", {"selector": selector, "attributes": attributes})

    def _load_json(self, name: str) -> list:
        path = os.path.join(self.dir, name)
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return json.load(f)

    # ---- read path ---------------------------------------------------
    def _listing(self) -> tuple:
        """(base dir, committed buffer dirs in write order, tombstones,
        meta entries): one consistent view of the overlay."""
        with self._lock:
            bufdirs = [os.path.join(self._buf, f"b{i:06d}") for i in self._batch_ids()]
            return (
                self._base_dir,
                [d for d in bufdirs if os.path.exists(os.path.join(d, "_SUCCESS"))],
                self._load_json("tombstones.json"),
                self._load_json("meta.json"),
            )

    def _remember(self, d: str, scan: DataFrame) -> None:
        """Memoize the scan of ``d`` unless a checkpoint has folded ``d``
        meanwhile: the memo holds only dirs of the current listing."""
        with self._lock:
            if d == self._base_dir or (os.path.dirname(d) == self._buf and os.path.isdir(d)):
                self._scans[d] = scan

    def _scan(self, d: str) -> DataFrame:
        """The scan of write-once dir ``d``, listed and inferred once."""
        df = self._scans.get(d)
        if df is None:
            df = self.spark.read.parquet(d)
            self._remember(d, df)
        return df

    def _compose(self, base_dir, bufdirs, tombstones, metas) -> DataFrame:
        from warp10_platform_spark.sources import write as W
        from warp10_platform_spark.sources.tables import canonical_points

        if base_dir:
            df = self._scan(base_dir)
        else:
            df = canonical_points(self.spark, self.sf_dir).drop("event_id")
        if bufdirs:
            df = W.update(df, *[self._scan(d) for d in bufdirs])
        for t in tombstones:
            df = W.delete(df, t["selector"], t.get("start"), t.get("end"))
        for m in metas:
            df = W.meta(df, m["selector"], m["attributes"])
        return df

    def points(self) -> DataFrame:
        """base ∪ buffers, the newest write wins per (series, tick); then
        tombstones, then the meta overlay — one lazy plan, the same
        ``DataFrame`` for as long as the listing is unchanged."""
        listing = self._listing()
        memo = self._plan
        if memo is not None and memo[0] == listing:
            return memo[1]
        df = self._compose(*listing)
        self._plan = (listing, df)
        return df

    def checkpoint(self) -> str:
        """Fold the read-time overlays into a NEW base snapshot — the
        compaction step that keeps merge-on-read bounded: the overlay is
        listed once, the composed ``base ∪ buffers → LWW → ¬tombstones →
        meta`` plan of that listing is written (partitioned by class,
        (gts_id, ts)-sorted for locality via sources.maintenance
        discipline), then exactly the listed buffers and JSON entries are
        removed; anything written meanwhile stays in the overlay.
        The previous base stays on disk, so readers in flight keep their
        old plan; the bases before it are deleted.  New reads see the
        folded base.  At 100 TB this runs as a scheduled job, not per
        request."""
        import shutil

        with self._checkpoint_lock:
            base_dir, bufdirs, tombstones, metas = listing = self._listing()
            new_base = os.path.join(self.dir, f"base_{int(time.time()*1000):013d}")
            composed = self._compose(*listing)
            (
                composed.repartition("class")
                .sortWithinPartitions("class", "gts_id", "ts")
                .write.partitionBy("class")
                .parquet(new_base)
            )
            base_scan = self.spark.read.schema(composed.schema).parquet(new_base)
            folded = {base_dir, *bufdirs}
            with self._lock:
                for d in bufdirs:
                    shutil.rmtree(d, ignore_errors=True)
                # /delete and /meta only append, so the listed entries
                # are still the first ones
                self._write_json("tombstones.json", self._load_json("tombstones.json")[len(tombstones):])
                self._write_json("meta.json", self._load_json("meta.json")[len(metas):])
                self._base_dir = new_base
                self._scans = {d: s for d, s in self._scans.items() if d not in folded}
                self._scans[new_base] = base_scan
            # deferred deletion: keep one base back for plans taken
            # before this checkpoint
            for d in os.listdir(self.dir):
                path = os.path.join(self.dir, d)
                if d.startswith("base_") and path not in (new_base, base_dir):
                    shutil.rmtree(path, ignore_errors=True)
        return new_base

    def directory(self) -> DataFrame:
        from warp10_platform_spark.sources.directory import build_directory

        pts = self.points()
        # the core directory carries identity + extent; /find also
        # reports attributes (mutable metadata, uniform per series after
        # the meta overlay) — one extra per-series agg
        attrs = pts.groupBy(F.col("gts_id").alias("_ag")).agg(
            F.first("attributes").alias("attributes")
        )
        return build_directory(pts).join(
            attrs, F.col("gts_id") == F.col("_ag"), "left"
        ).drop("_ag")


def _fetch_response(store: Store, qs: dict):
    """(content_type, line_iterator) for /fetch.

    ALL formats (text/tsv/json) STREAM through ``toLocalIterator`` — the
    driver holds one Arrow batch at a time, never the full result (the
    reference's fetch handler streams every egress format through a
    PrintWriter the same way; a ``collect()`` here would OOM the driver
    on a large range at 100 TB)."""
    from warp10_platform_spark.core.frame import GTSFrame
    from warp10_platform_spark.sources.gts_text import format_gts_lines
    from warp10_platform_spark.sources.write import export_tsv

    selector = qs.get("selector", [None])[0]
    start = qs.get("start", [None])[0]
    stop = qs.get("stop", [None])[0] or qs.get("end", [None])[0]
    fmt = qs.get("format", ["text"])[0]
    gf = GTSFrame.fetch(
        store.points(),
        selector,
        int(start) if start is not None else None,
        int(stop) if stop is not None else None,
    )
    df = gf.df.orderBy("class", "labels_key", "ts")
    if fmt == "json":
        # reference-faithful jsonDump field order/format, streamed one
        # point row at a time (conformance: tests/test_conformance_goldens)
        from warp10_platform_spark.sources.egress_json import json_dump_rows

        return "application/json", json_dump_rows(df.toLocalIterator())
    lines = export_tsv(df) if fmt == "tsv" else format_gts_lines(df)
    ctype = "text/tab-separated-values" if fmt == "tsv" else "text/plain"
    return ctype, (r[0] + "\n" for r in lines.toLocalIterator())


def _find_chunks(store: Store, qs: dict):
    """/find response as a chunk generator: `[` obj (`,` obj)* `]`, one
    directory row at a time via toLocalIterator — bounded driver memory
    regardless of directory cardinality (the reference streams metadata
    the same way, StreamingMetadataIterator.java)."""
    from warp10_platform_spark.sources.directory import find

    sel = qs.get("selector", ["~.*{}"])[0]
    rows = find(store.directory(), sel).orderBy("class", "labels_key").toLocalIterator()
    yield "["
    first = True
    for r in rows:
        obj = json.dumps(
            {"c": r["class"], "l": dict(r["labels"] or {}), "a": dict(r["attributes"] or {})}
        )
        yield obj if first else "," + obj
        first = False
    yield "]"


class _Handler(BaseHTTPRequestHandler):
    # injected by make_server
    store: Store = None  # type: ignore[assignment]

    def log_message(self, *a):  # quiet
        pass

    def _reply(self, code: int, body: str = "", ctype: str = "text/plain", headers: dict | None = None):
        data = body.encode()
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(data)))
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(data)

    def _body(self) -> str:
        n = int(self.headers.get("Content-Length") or 0)
        return self.rfile.read(n).decode()

    # ---- WebSocket endpoints (RFC 6455 over the same listener) -------
    def _ws_upgrade(self, url) -> bool:
        """Handle a websocket Upgrade request; True if it was one."""
        if (self.headers.get("Upgrade") or "").lower() != "websocket":
            return False
        from warp10_platform_spark import websocket as ws

        key = self.headers.get("Sec-WebSocket-Key")
        if not key or url.path not in (f"{API}/plasma", f"{API}/streamupdate"):
            self._reply(400, "bad websocket request\n")
            return True
        self.send_response(101, "Switching Protocols")
        self.send_header("Upgrade", "websocket")
        self.send_header("Connection", "Upgrade")
        self.send_header("Sec-WebSocket-Accept", ws.accept_key(key))
        self.end_headers()
        self.wfile.flush()
        conn = ws.WSConnection(self.rfile, self.wfile, sock=self.connection)
        try:
            if url.path == f"{API}/plasma":
                self._plasma_session(conn)
            else:
                self._streamupdate_session(conn)
        finally:
            self.close_connection = True
        return True

    def _plasma_session(self, conn) -> None:
        """Plasma pub-sub (StandalonePlasmaHandler.java:163-230):
        ``[UN]SUBSCRIBE <TOKEN> <SELECTOR>`` messages manage the
        session's selector set; matching ingested points push back as
        GTS text frames. Tokens are accepted but not enforced (this
        engine runs tokenless, like the reference with a no-op token
        filter); errors reply ``KO <reason>`` like the reference."""
        from warp10_platform_spark.core.selector import parse_selector

        hub = self.store.hub
        hub.register(conn)
        try:
            while True:
                msg = conn.recv_message()
                if msg is None:
                    break
                toks = msg.split()
                if not toks:
                    continue
                if toks[0] in ("SUBSCRIBE", "UNSUBSCRIBE"):
                    if len(toks) < 3:
                        conn.send_text("KO Invalid subscription selector.")
                        continue
                    raw = toks[2]
                    try:
                        sel = parse_selector(raw)
                    except ValueError:
                        conn.send_text("KO Invalid subscription selector.")
                        continue
                    if toks[0] == "SUBSCRIBE":
                        hub.subscribe(conn, raw, sel)
                    else:
                        hub.unsubscribe(conn, raw)
                else:
                    conn.send_text("KO Invalid verb.")
        finally:
            hub.deregister(conn)

    def _streamupdate_session(self, conn) -> None:
        """Persistent-socket ingest (StandaloneStreamUpdateHandler.java:
        150-200): TOKEN/CLEARTOKEN/NOOP/ONERROR verbs ack ``OK <seqno>
        <VERB>``; any other message is GTS text lines fed to the same
        store path as POST /update, acked ``OK <seqno> UPDATE <count>
        <nano>`` after the store commits (StandaloneStreamUpdateHandler
        .java:454 — reference clients block on this ack). ONERROR
        message|close picks whether a failed update replies with an
        error frame or closes the socket (the reference default: close);
        any other ONERROR argument leaves the mode unchanged
        (the reference only flips on exact 'message'/'close')."""
        seqno = 0
        errormsg = False
        skip_attributes = False
        while True:
            msg = conn.recv_message()
            if msg is None:
                break
            head = msg.split(None, 1)[0] if msg.strip() else ""
            if head in ("TOKEN", "CLEARTOKEN", "NOOP", "ONERROR"):
                toks = msg.split()
                if head == "ONERROR" and len(toks) > 1:
                    arg = toks[1].lower()
                    if arg == "message":
                        errormsg = True
                    elif arg == "close":
                        errormsg = False
                conn.send_text(f"OK {seqno} {head}")
                seqno += 1
            elif head in ("DELTAON", "DELTAOFF", "ATTRSKIPON", "ATTRSKIPOFF"):
                # Attribute-handling verbs (StandaloneStreamUpdateHandler
                # .java:175-193). Delta attribute updates are disabled by
                # default in the reference (warp.update.attributes.delta);
                # this engine has no per-point attribute wire either, so
                # DELTAON fails with the reference's message and the
                # ATTRSKIP pair toggles an (inert here) parse flag. These
                # must NOT fall through to measurement parsing.
                if head == "DELTAON":
                    if errormsg:
                        conn.send_text("ERROR Delta update of attributes is disabled.")
                    else:
                        conn.close(1011, "Delta update of attributes is disabled.")
                        break
                else:
                    skip_attributes = head == "ATTRSKIPON"
            else:
                try:
                    nano = time.perf_counter_ns()
                    count = self.store.append_update(msg)
                    nano = time.perf_counter_ns() - nano
                    conn.send_text(f"OK {seqno} UPDATE {count} {nano}")
                    seqno += 1
                except Exception as e:  # noqa: BLE001
                    if errormsg:
                        conn.send_text(f"ERROR {type(e).__name__}: {e}"[:900])
                    else:
                        conn.close(1011, "update failed")
                        break

    def do_GET(self):  # noqa: N802
        url = urllib.parse.urlparse(self.path)
        qs = urllib.parse.parse_qs(url.query)
        if self._ws_upgrade(url):
            return
        try:
            if url.path == f"{API}/fetch":
                ctype, chunks = _fetch_response(self.store, qs)
            elif url.path == f"{API}/find":
                # STREAMED like /fetch (reference StreamingMetadataIterator:
                # continuum/egress/StreamingMetadataIterator.java): one Arrow
                # batch of directory rows in driver memory at a time, chunked
                # JSON array writes — never the whole 10^7-series directory
                ctype, chunks = "application/json", _find_chunks(self.store, qs)
            else:
                return self._reply(404, "no such endpoint\n")
            # Pull the FIRST chunk before the status line: the Spark job
            # actually starts on that first next(), so scan/plan failures
            # still produce a clean 500 with error headers. After the 200
            # is on the wire a failure can only TRUNCATE the body (never
            # write a second status line into it) — the reference's
            # streaming egress has the same contract.
            it = iter(chunks)
            try:
                first = next(it)
            except StopIteration:
                first = ""
            self.send_response(200)
            self.send_header("Content-Type", ctype)
            self.send_header("Connection", "close")
            self.end_headers()
            try:
                self.wfile.write(first.encode())
                for c in it:
                    self.wfile.write(c.encode())
            except Exception:  # noqa: BLE001
                self.close_connection = True
            return
        except Exception as e:  # noqa: BLE001
            return self._reply(
                500, "", headers={"X-Warp10-Error-Message": f"{type(e).__name__}: {e}"[:900]}
            )

    def do_POST(self):  # noqa: N802
        url = urllib.parse.urlparse(self.path)
        qs = urllib.parse.parse_qs(url.query)
        t0 = time.perf_counter()
        try:
            if url.path == f"{API}/exec":
                from warp10_platform_spark.__main__ import _jsonable
                from warp10_platform_spark.warpscript import WarpScriptStack

                st = WarpScriptStack(self.store.spark, self.store.sf_dir)
                try:
                    st.exec(self._body())
                except Exception as e:  # noqa: BLE001
                    # the reference /exec error contract: 500 + headers
                    return self._reply(
                        500,
                        "",
                        headers={
                            "X-Warp10-Error-Message": f"{type(e).__name__}: {e}"[:900],
                            "X-Warp10-Error-Line": "0",
                        },
                    )
                # STREAMED like /fetch: one stack level rendered and
                # written at a time, so a huge stack (e.g. several
                # million-point GTS levels) never holds its full JSON in
                # driver memory at once — the reference's /exec writes
                # through StackUtils.toJSON with the same property.
                # Error contract: the TOP level (the result frame, where
                # Spark materialization failures land) is rendered
                # BEFORE the status line, so those still produce a clean
                # 500 + X-Warp10-Error headers; a failure on a deeper
                # level mid-stream can only TRUNCATE the body — never
                # write a second status line into it.
                levels = list(reversed(st.stack))
                try:
                    first = (
                        json.dumps(_jsonable(levels[0], None, False)).encode()
                        if levels else b""
                    )
                except Exception as e:  # noqa: BLE001
                    return self._reply(
                        500,
                        "",
                        headers={
                            "X-Warp10-Error-Message": f"{type(e).__name__}: {e}"[:900],
                            "X-Warp10-Error-Line": "0",
                        },
                    )
                # elapsed includes execution AND the dominant (top-level)
                # materialization, like the reference's eager stack.
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Connection", "close")
                self.send_header(
                    "X-Warp10-Elapsed", str(int((time.perf_counter() - t0) * 1e9))
                )
                self.end_headers()
                try:
                    self.wfile.write(b"[" + first)
                    for v in levels[1:]:
                        self.wfile.write(b",")
                        self.wfile.write(json.dumps(_jsonable(v, None, False)).encode())
                    self.wfile.write(b"]")
                except Exception:  # noqa: BLE001
                    # mid-stream failure: truncate and close — the 200
                    # status is already on the wire, a second status
                    # line would corrupt the body.
                    self.close_connection = True
                return
            elif url.path == f"{API}/update":
                n = self.store.append_update(self._body())
                return self._reply(200, "", headers={"X-Warp10-Ingested": str(n)})
            elif url.path == f"{API}/delete":
                sel = qs.get("selector", [None])[0]
                if not sel:
                    return self._reply(400, "selector required\n")
                start = qs.get("start", [None])[0]
                end = qs.get("end", [None])[0]
                self.store.add_tombstone(
                    sel,
                    int(start) if start is not None else None,
                    int(end) if end is not None else None,
                )
                return self._reply(200, "")
            elif url.path == f"{API}/meta":
                payload = json.loads(self._body())
                self.store.add_meta(payload["selector"], dict(payload["attributes"]))
                return self._reply(200, "")
            else:
                return self._reply(404, "no such endpoint\n")
        except Exception as e:  # noqa: BLE001
            return self._reply(
                500, "", headers={"X-Warp10-Error-Message": f"{type(e).__name__}: {e}"[:900]}
            )


def make_server(spark, sf_dir: str, store_dir: str, port: int = 0) -> ThreadingHTTPServer:
    """Build (not start) the HTTP server; ``server.server_address[1]``
    is the bound port when ``port=0``."""
    handler = type("Handler", (_Handler,), {"store": Store(spark, sf_dir, store_dir)})
    return ThreadingHTTPServer(("127.0.0.1", port), handler)


def main(argv=None) -> int:
    import argparse

    ap = argparse.ArgumentParser(prog="python -m warp10_platform_spark.server")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    ap.add_argument("--store-dir", default=".warp10-store")
    ap.add_argument("--port", type=int, default=8080)
    args = ap.parse_args(argv)

    from warp10_platform_spark.session import get_spark

    spark = get_spark("warp10-platform-spark-server")
    spark.sparkContext.setLogLevel("ERROR")
    srv = make_server(spark, args.sf_dir, args.store_dir, args.port)
    print(f"listening on :{srv.server_address[1]}  (endpoints: {API}/exec /fetch /update /delete /meta /find)")
    srv.serve_forever()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
