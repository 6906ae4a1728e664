"""Consumer-group membership with debounced rebalance (R3 watcher).

The reference tracks connected consumers and re-deals bucket ownership
on membership change, but debounces the re-deal so a burst of
joins/leaves (a deploy rolling every consumer) triggers ONE rebalance
instead of N (internal/consuming/consumer_state.go:181-272: mutations
are queued and applied by a timer tick). The assignment itself stays
the pure deterministic deal-out of `assign_buckets`
(consumer_state.go:308-350) — this class only decides WHEN the applied
view advances to the latest membership.

Spark-first posture: no background thread is needed — the applied view
advances lazily whenever it is read past the debounce deadline, which
makes the behavior deterministic and testable with an injected clock
(the HTTP facade reads it on every poll).
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable
from urllib.parse import quote, unquote

from barco_spark.sources.eventlog import assign_buckets


class ProduceFencedError(RuntimeError):
    """A produce batch was refused by the object-store write fence
    (stale leadership); the client should retry — the retry lands on
    whichever facade the registry then names leader (307 reroute)."""


class GroupMembership:
    """Tracks live consumers per group; applies the deterministic
    deal-out after a debounce window of membership quiet time."""

    def __init__(
        self,
        buckets: int,
        debounce_s: float = 0.0,
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        self.buckets = buckets
        self.debounce_s = debounce_s
        self._clock = clock
        self._members: dict[str, set[str]] = {}
        # the served view: group -> consumer_id -> [buckets]
        self._applied: dict[str, dict[str, list[int]]] = {}
        # group -> deadline after which the pending membership applies
        self._deadline: dict[str, float] = {}

    # -- mutations ------------------------------------------------------
    def join(self, group: str, consumer_id: str) -> None:
        members = self._members.setdefault(group, set())
        if consumer_id in members:
            return  # idempotent re-register keeps the current view
        members.add(consumer_id)
        self._touch(group)

    def leave(self, group: str, consumer_id: str) -> None:
        members = self._members.get(group, set())
        if consumer_id not in members:
            return
        members.discard(consumer_id)
        self._touch(group)

    def _touch(self, group: str) -> None:
        now = self._clock()
        if group not in self._applied:
            # first change a group sees applies immediately: there is no
            # previous ownership to keep stable while debouncing
            self._applied[group] = assign_buckets(
                sorted(self._members.get(group, set())), self.buckets
            )
            self._deadline.pop(group, None)
        else:
            # further churn inside the window extends it (the reference
            # resets its rebalance timer on every queued mutation)
            self._deadline[group] = now + self.debounce_s

    # -- reads ----------------------------------------------------------
    def assignment(self, group: str) -> dict[str, list[int]]:
        """Current applied deal-out for the whole group (advances past
        the debounce deadline; stable inside the window)."""
        deadline = self._deadline.get(group)
        if deadline is not None and self._clock() >= deadline:
            self._applied[group] = assign_buckets(
                sorted(self._members.get(group, set())), self.buckets
            )
            self._deadline.pop(group, None)
        return self._applied.get(group, {})

    def buckets_for(self, group: str, consumer_id: str) -> list[int]:
        """Buckets this consumer currently owns ([] while unassigned)."""
        return self.assignment(group).get(consumer_id, [])

    def applied_buckets(self, group: str, consumer_id: str) -> list[int]:
        """Buckets this consumer owns in the deal-out being served now.
        Unlike ``buckets_for`` it never applies a pending rebalance, so
        it only reads and needs no lock: a poll asks it after its
        unlocked read to see whether its buckets changed hands."""
        return self._applied.get(group, {}).get(consumer_id, [])

    def members(self, group: str) -> list[str]:
        return sorted(self._members.get(group, set()))

    def rebalance_pending(self, group: str) -> bool:
        return group in self._deadline

    def bootstrap(self, members: dict[str, set[str]]) -> None:
        """Adopt a recovered membership snapshot in one step, applying
        the deal-out immediately (a restarting facade must serve the
        same assignment the group had, not debounce every recovered
        member as churn)."""
        for group, cids in members.items():
            self._members[group] = set(cids)
            self._applied[group] = assign_buckets(sorted(cids), self.buckets)
            self._deadline.pop(group, None)


class MembershipStore:
    """Durable, shared consumer-registration store.

    The reference replicates consumer registrations to peer brokers so
    any broker can answer for the group and a broker restart forgets
    nothing (internal/consuming/server.go:569-591, consumer_state.go
    peer sync). On shared storage the same guarantee is one object per
    consumer under ``{root}/_membership/{group}/{consumer}.json`` —
    joins/leaves are single-file writes/deletes (no multi-writer
    conflict between facades), and every facade over the same log root
    sees one membership view by listing the directory. Object-store
    friendly by construction (one small object per consumer, no
    appends, no renames of shared files) — but this implementation
    writes through the local filesystem, so a ``scheme://`` root is
    rejected loudly instead of silently creating a cwd-relative
    ``./s3:/...`` directory no peer facade would ever see. Object-store
    roots use FsMembershipStore (pyarrow.fs) below — the facade picks
    it automatically.
    """

    def __init__(self, root: str) -> None:
        if "://" in root:
            raise NotImplementedError(
                "MembershipStore writes through the local filesystem; "
                f"object-store root {root!r} needs a mounted path "
                "(NFS/FUSE) or an object-store-backed subclass"
            )
        self.path = os.path.join(root, "_membership")

    def version(self) -> tuple:
        """Cheap change stamp: (name, mtime_ns) of the membership root
        and every group dir. File creates/deletes/os.replace all bump
        the containing directory's mtime, so an unchanged stamp means
        consumers() would return the same view — callers use it to skip
        full rescans on hot paths (the facade checks it per poll)."""
        try:
            st = os.stat(self.path)
        except FileNotFoundError:
            return ()
        parts = [("", st.st_mtime_ns)]
        for gdir in sorted(os.listdir(self.path)):
            gpath = os.path.join(self.path, gdir)
            try:
                gst = os.stat(gpath)
            except FileNotFoundError:
                continue  # concurrent group removal
            if os.path.isdir(gpath):
                parts.append((gdir, gst.st_mtime_ns))
        return tuple(parts)

    def _group_dir(self, group: str) -> str:
        return os.path.join(self.path, quote(group, safe=""))

    def put(self, group: str, consumer_id: str, topics: list[str]) -> None:
        d = self._group_dir(group)
        os.makedirs(d, exist_ok=True)
        target = os.path.join(d, quote(consumer_id, safe="") + ".json")
        tmp = target + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(
                {"group": group, "consumer_id": consumer_id, "topics": topics},
                fh,
            )
        os.replace(tmp, target)  # atomic publish

    def remove(self, group: str, consumer_id: str) -> None:
        target = os.path.join(
            self._group_dir(group), quote(consumer_id, safe="") + ".json"
        )
        try:
            os.remove(target)
        except FileNotFoundError:
            pass  # concurrent goodbye from another facade already won

    def touch(self, group: str, consumer_id: str) -> None:
        """Record consumer activity (R13): bump the registration file's
        mtime. A file utime does NOT change the containing directory's
        mtime, so version() stays stable and peers skip the rescan —
        activity is only read by eviction sweeps via last_active()."""
        target = os.path.join(
            self._group_dir(group), quote(consumer_id, safe="") + ".json"
        )
        try:
            os.utime(target)
        except FileNotFoundError:
            pass  # evicted/goodbye'd concurrently; next poll re-rejects

    def last_active(self) -> dict[str, tuple[str, float]]:
        """consumer_id -> (group, last-activity epoch seconds). The
        registration write is the first activity; every poll touches."""
        out: dict[str, tuple[str, float]] = {}
        if not os.path.isdir(self.path):
            return out
        for gdir in sorted(os.listdir(self.path)):
            gpath = os.path.join(self.path, gdir)
            if not os.path.isdir(gpath):
                continue
            for fn in sorted(os.listdir(gpath)):
                if not fn.endswith(".json"):
                    continue
                try:
                    mtime = os.stat(os.path.join(gpath, fn)).st_mtime
                except FileNotFoundError:
                    continue  # concurrent removal
                out[unquote(fn[: -len(".json")])] = (unquote(gdir), mtime)
        return out

    def consumers(self) -> dict[str, tuple[str, list[str]]]:
        """consumer_id -> (group, topics) across every group."""
        out: dict[str, tuple[str, list[str]]] = {}
        if not os.path.isdir(self.path):
            return out
        for gdir in sorted(os.listdir(self.path)):
            gpath = os.path.join(self.path, gdir)
            if not os.path.isdir(gpath):
                continue
            for fn in sorted(os.listdir(gpath)):
                if not fn.endswith(".json"):
                    continue
                try:
                    with open(os.path.join(gpath, fn), encoding="utf-8") as fh:
                        rec = json.load(fh)
                except (OSError, json.JSONDecodeError):
                    continue  # torn concurrent write: visible next scan
                cid = rec.get("consumer_id") or unquote(fn[: -len(".json")])
                out[cid] = (rec.get("group", unquote(gdir)), rec.get("topics", []))
        return out

    def members(self) -> dict[str, set[str]]:
        """group -> set of consumer ids (derived from consumers())."""
        out: dict[str, set[str]] = {}
        for cid, (group, _topics) in self.consumers().items():
            out.setdefault(group, set()).add(cid)
        return out


class FsMembershipStore:
    """Object-store MembershipStore: same one-object-per-consumer
    contract as the local store, written through pyarrow.fs so any
    ``scheme://`` root works (tested over ``file://``, the scheme-
    generic code path). Differences forced by object-store semantics:

    - ``version()`` lists the whole membership prefix (object stores
      have no directory mtimes) — one LIST per check, O(consumers);
      facade polls are human-rate, so this is the honest cost of
      durable cross-facade membership without a coordination service.
    - ``touch()`` rewrites the consumer's small JSON object (no utime
      on object stores); the object's own mtime is the activity stamp.
    """

    def __init__(self, root: str) -> None:
        self.uri = root.rstrip("/") + "/_membership"

    def _consumer_uri(self, group: str, consumer_id: str) -> str:
        return (
            f"{self.uri}/{quote(group, safe='')}/"
            f"{quote(consumer_id, safe='')}.json"
        )

    def _entries(self) -> list[tuple[str, float, int]]:
        from barco_spark.sources import objectstore as obs

        return obs.list_files(self.uri, ".json")

    def version(self) -> tuple:
        """Change stamp over REGISTRATIONS only: the (path, size) set of
        .json objects. Deliberately excludes mtimes and the .hb
        heartbeat objects touch() writes, so per-poll activity can
        never churn the version — peers rescan on join/leave, not on
        every poll (the same invariant the local store gets from
        utime-not-bumping-the-dir). Registrations are immutable per
        consumer id (divergent re-registration is rejected upstream),
        so path+size is a faithful stamp."""
        return tuple((path, size) for path, _mtime, size in self._entries())

    def put(self, group: str, consumer_id: str, topics: list[str]) -> None:
        from barco_spark.sources import objectstore as obs

        obs.write_json(
            self._consumer_uri(group, consumer_id),
            {"group": group, "consumer_id": consumer_id, "topics": topics},
        )

    def remove(self, group: str, consumer_id: str) -> None:
        from barco_spark.sources import objectstore as obs

        obs.delete_file(self._consumer_uri(group, consumer_id))
        # drop the activity stamp too; a concurrent touch() may race
        # this and leave an orphan .hb — harmless (consumers() reads
        # .json only; eviction ignores cids with no registration)
        obs.delete_file(self._consumer_uri(group, consumer_id)[: -len(".json")] + ".hb")

    def touch(self, group: str, consumer_id: str) -> None:
        """Record consumer activity in a SEPARATE heartbeat object
        (blind PUT, nothing read): registration version() stays stable
        across polls, and there is no read-modify-write race with a
        concurrent remove() that could resurrect a just-removed
        registration — the worst case is an orphan .hb, cleaned by the
        next remove or ignored forever."""
        from barco_spark.sources import objectstore as obs

        obs.write_json(
            self._consumer_uri(group, consumer_id)[: -len(".json")] + ".hb",
            {},
        )

    def consumers(self) -> dict[str, tuple[str, list[str]]]:
        from barco_spark.sources import objectstore as obs

        out: dict[str, tuple[str, list[str]]] = {}
        for path, _mtime, _size in self._entries():
            rec = obs.read_json(path)
            if rec is None:
                continue  # concurrent removal
            cid = rec.get("consumer_id")
            if cid:
                out[cid] = (rec.get("group", ""), rec.get("topics", []))
        return out

    def members(self) -> dict[str, set[str]]:
        out: dict[str, set[str]] = {}
        for cid, (group, _topics) in self.consumers().items():
            out.setdefault(group, set()).add(cid)
        return out

    def last_active(self) -> dict[str, tuple[str, float]]:
        """Registration write is the first activity; each touch() bumps
        the .hb heartbeat object — take the newer of the two."""
        from urllib.parse import unquote as _unq

        from barco_spark.sources import objectstore as obs

        hb: dict[tuple[str, str], float] = {}
        for path, mtime, _size in obs.list_files(self.uri, ".hb"):
            parts = path.rsplit("/", 2)
            if len(parts) < 3:
                continue
            hb[(parts[-2], parts[-1][: -len(".hb")])] = mtime
        out: dict[str, tuple[str, float]] = {}
        for path, mtime, _size in self._entries():
            parts = path.rsplit("/", 2)
            if len(parts) < 3:
                continue
            gq, fname = parts[-2], parts[-1]
            cq = fname[: -len(".json")]
            out[_unq(cq)] = (_unq(gq), max(mtime, hb.get((gq, cq), 0.0)))
        return out


class FacadeRegistry:
    """Live-facade registry under the log root: the single-writer-per-
    topic contract across peer facades (item: multi-facade produce).

    The reference routes a produce to the partition leader and answers
    non-leader requests with a reroute (internal/producing/server.go:
    158-166, topology generations). On shared storage the analogue is:

    - every facade announces itself as one small JSON object at
      ``{root}/_facades/{facade_id}.json`` (host, port); the object's
      mtime is its heartbeat, refreshed by live traffic (throttled to
      ttl/4) and removed on clean shutdown;
    - the leader for a topic is RENDEZVOUS HASHING over the live set
      (max sha1(facade_id | topic)) — deterministic in every process,
      no coordination service, minimal leadership movement when a
      facade joins or expires;
    - a non-leader facade answers produce with 307 + Location at the
      leader (the reroute), so exactly one facade accepts writes for a
      topic and bucket offsets stay contiguous single-writer arithmetic.

    Divergence window: two facades can briefly disagree on the live set
    (a peer's heartbeat expiring between their checks) — the same
    generational window the reference closes with consensus. On LOCAL
    roots the mkdir produce lock makes the disagreement harmless; on
    object-store roots ``produce_fence`` closes it write-side: every
    produce batch first proves, in the STORE's own clock frame, that
    this facade's heartbeat is current and that no peer holds a newer
    per-topic lease — so stale leadership refuses (503, client
    retries) instead of writing colliding offsets. A crashed facade
    stops heartbeating and its topics re-deal to survivors after
    ``ttl_s`` with no operator action.
    """

    def __init__(
        self,
        root: str,
        facade_id: str,
        host: str,
        port: int,
        ttl_s: float = 15.0,
    ) -> None:
        self.root = root
        self.facade_id = facade_id
        self.host = host
        self.port = port
        self.ttl_s = ttl_s
        self._is_uri = "://" in root
        self._dir = root.rstrip("/") + "/_facades"
        self._my_uri = f"{self._dir}/{quote(facade_id, safe='')}.json"
        self._last_beat = 0.0

    # -- announce / heartbeat / retire ---------------------------------
    def announce(self) -> None:
        rec = {"facade_id": self.facade_id, "host": self.host, "port": self.port}
        if self._is_uri:
            from barco_spark.sources import objectstore as obs

            obs.write_json(self._my_uri, rec)
        else:
            os.makedirs(self._dir, exist_ok=True)
            tmp = self._my_uri + ".tmp"
            with open(tmp, "w", encoding="utf-8") as fh:
                json.dump(rec, fh)
            os.replace(tmp, self._my_uri)
        self._last_beat = time.time()

    def heartbeat(self) -> None:
        """Refresh this facade's liveness stamp; no-op when the last
        beat is fresher than ttl/4 so hot paths pay ~nothing."""
        now = time.time()
        if now - self._last_beat < self.ttl_s / 4:
            return
        if self._is_uri:
            self.announce()  # object stores have no utime: rewrite
        else:
            try:
                os.utime(self._my_uri)
                self._last_beat = now
            except FileNotFoundError:
                self.announce()  # registry wiped (retention?): re-join

    def retire(self) -> None:
        if self._is_uri:
            from barco_spark.sources import objectstore as obs

            obs.delete_file(self._my_uri)
        else:
            try:
                os.remove(self._my_uri)
            except FileNotFoundError:
                pass

    # -- reads ----------------------------------------------------------
    def live(self) -> dict[str, tuple[str, int]]:
        """facade_id -> (host, port) for every facade whose heartbeat is
        within ttl. Always includes self (we are provably alive)."""
        now = time.time()
        out: dict[str, tuple[str, int]] = {
            self.facade_id: (self.host, self.port)
        }
        if self._is_uri:
            from barco_spark.sources import objectstore as obs

            for path, mtime, _size in obs.list_files(self._dir, ".json"):
                if now - mtime > self.ttl_s:
                    continue
                rec = obs.read_json(path)
                if rec and rec.get("facade_id"):
                    out[rec["facade_id"]] = (rec["host"], int(rec["port"]))
            return out
        if not os.path.isdir(self._dir):
            return out
        for fn in sorted(os.listdir(self._dir)):
            if not fn.endswith(".json"):
                continue
            path = os.path.join(self._dir, fn)
            try:
                if now - os.stat(path).st_mtime > self.ttl_s:
                    continue
                with open(path, encoding="utf-8") as fh:
                    rec = json.load(fh)
            except (OSError, json.JSONDecodeError):
                continue  # concurrent retire / torn write
            if rec.get("facade_id"):
                out[rec["facade_id"]] = (rec["host"], int(rec["port"]))
        return out

    def produce_fence(self, topic: str) -> None:
        """Write-side fence for object-store roots (raises to refuse).

        On local roots the mkdir produce lock serializes cross-process
        writers; object stores have no atomic primitive, so leadership
        divergence (a facade still believing it is leader after peers
        expired its heartbeat, or cross-machine clock skew) could let
        two facades read the same watermark and write colliding
        offsets. Before each produce batch the leader must pass two
        checks, both comparing timestamps WRITTEN BY THE STORE against
        each other (one clock frame — local clocks never enter):

        1. self-staleness: our own heartbeat object must exist and be
           within ttl of the newest heartbeat in the registry. A facade
           that fell behind (GC pause, partition) re-announces and
           refuses this batch — the client retries and lands on
           whatever the store then says.
        2. topic lease: a per-topic epoch object records the last
           producer. If a DIFFERENT facade holds the lease and wrote it
           after our own heartbeat, it produced while we were stale —
           refuse. Otherwise bump the epoch to fence THEM.

        This shrinks the split-brain window from unbounded-under-skew
        to one store round-trip (two facades interleaving the
        read-then-write of the same lease); a store with conditional
        PUT (S3 If-None-Match, GCS generations) can close even that by
        making the lease write conditional — noted, not required here.
        """
        if not self._is_uri:
            return
        from barco_spark.sources import objectstore as obs

        my_name = quote(self.facade_id, safe="") + ".json"
        beats = {
            p.rsplit("/", 1)[-1]: m
            for p, m, _s in obs.list_files(self._dir, ".json")
        }
        my_m = beats.get(my_name)
        if my_m is None or (beats and max(beats.values()) - my_m > self.ttl_s):
            self.announce()  # rejoin with a fresh stamp, then retry
            raise ProduceFencedError(
                "produce fenced: this facade's heartbeat is stale in the "
                "registry (expired or missing); re-announced — retry"
            )
        lease_dir = f"{self._dir}/_leases"
        lease_uri = f"{lease_dir}/{quote(topic, safe='')}.lease"
        lease = obs.read_json(lease_uri)
        lease_m = next(
            (m for p, m, _s in obs.list_files(lease_dir, ".lease") if p == lease_uri),
            None,
        )
        if (
            lease
            and lease.get("facade_id") != self.facade_id
            and lease_m is not None
            and lease_m > my_m
        ):
            # a peer produced AFTER our last heartbeat: either we lost
            # leadership (the retry's 307 will say so) or this is a
            # legitimate handoff and we must first prove liveness with
            # a stamp NEWER than the peer's last write — re-announce so
            # the retry carries that proof. A true split-brain keeps
            # the contest going (the active peer keeps the lease fresh)
            # and this facade keeps refusing, which is the point.
            self.announce()
            raise ProduceFencedError(
                "produce fenced: another facade produced this topic after "
                "our last heartbeat — leadership moved; retry for reroute"
            )
        obs.write_json(
            lease_uri,
            {
                "facade_id": self.facade_id,
                "epoch": int((lease or {}).get("epoch", 0)) + 1,
            },
        )

    def leader_for(self, topic: str) -> tuple[str, str, int]:
        """(facade_id, host, port) of the topic's single writer:
        rendezvous hash over the live set."""
        import hashlib

        best_id, best_addr, best_score = "", ("", 0), b""
        for fid, addr in self.live().items():
            score = hashlib.sha1(f"{fid}|{topic}".encode()).digest()
            if best_id == "" or score > best_score:
                best_id, best_addr, best_score = fid, addr, score
        return best_id, best_addr[0], best_addr[1]


class LocalMembershipStore:
    """Single-facade fallback kept for embedders that explicitly want
    process-local registrations (no files written anywhere): restart
    recovery and cross-facade convergence are OFF by construction.
    Object-store roots now default to FsMembershipStore instead.
    """

    def __init__(self, root: str) -> None:
        self._data: dict[str, tuple[str, list[str]]] = {}
        self._active: dict[str, float] = {}
        self._version = 0

    def version(self) -> tuple:
        return (self._version,)

    def put(self, group: str, consumer_id: str, topics: list[str]) -> None:
        self._data[consumer_id] = (group, topics)
        self._active[consumer_id] = time.time()
        self._version += 1

    def remove(self, group: str, consumer_id: str) -> None:
        self._data.pop(consumer_id, None)
        self._active.pop(consumer_id, None)
        self._version += 1

    def touch(self, group: str, consumer_id: str) -> None:
        if consumer_id in self._data:
            self._active[consumer_id] = time.time()

    def last_active(self) -> dict[str, tuple[str, float]]:
        return {
            cid: (group, self._active.get(cid, 0.0))
            for cid, (group, _topics) in self._data.items()
        }

    def consumers(self) -> dict[str, tuple[str, list[str]]]:
        return dict(self._data)

    def members(self) -> dict[str, set[str]]:
        out: dict[str, set[str]] = {}
        for cid, (group, _topics) in self._data.items():
            out.setdefault(group, set()).add(cid)
        return out


class RouteClientPool:
    """Persistent keep-alive HTTP connections to peer facades — the
    reference's pooled per-peer routing client (gossip.go:257-300 runs
    SendToLeader over ``c.routingClient``, a long-lived connection, not
    a dial per request). Measured on the worst-case fleet (every
    producer mis-routed, 16 concurrent): dial-per-request saturated the
    forward path at ~150 req/s while the direct path scaled — see
    SCALING.md round-8.

    ``send`` distinguishes the failure phases so the at-least-once
    contract stays honest:

    - a REUSED connection failing during the SEND phase is a stale
      keep-alive socket (the peer closed it idle); the request cannot
      have been applied (Content-Length framing: the peer never saw a
      complete request), so it silently retries ONCE on a FRESH DIAL
      (the retry bypasses the idle pool — popping another pooled
      socket could just be stale #2 of the same dead peer process);
    - a REUSED connection answering ZERO response bytes
      (RemoteDisconnected from getresponse) is the same stale socket
      seen one syscall later — conn.request "succeeds" because the
      bytes land in the local send buffer of a half-closed TCP socket —
      and also retries once fresh;
    - any OTHER response-phase failure (timeout, reset mid-response,
      or anything on a fresh dial) may be post-apply and is raised to
      the caller, who surfaces it rather than duplicating
      (http_server._forward_produce's 503).
    """

    def __init__(self, max_idle_per_peer: int = 16, timeout: float = 10.0):
        import threading

        self._idle: dict[tuple[str, int], list] = {}
        self._lock = threading.Lock()
        self.max_idle = max_idle_per_peer
        self.timeout = timeout

    def _acquire(self, host: str, port: int, force_fresh: bool = False):
        import http.client
        import socket

        if not force_fresh:
            with self._lock:
                lst = self._idle.get((host, port))
                if lst:
                    return lst.pop(), True
        conn = http.client.HTTPConnection(host, port, timeout=self.timeout)
        conn.connect()
        # disable Nagle: a keep-alive POST (headers + body in separate
        # small writes) otherwise stalls a delayed-ACK (~40 ms) per
        # forwarded request — measured 139 -> 84 req/s when the pool
        # first landed WITHOUT this
        conn.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        return conn, False

    def _release(self, host: str, port: int, conn) -> None:
        with self._lock:
            lst = self._idle.setdefault((host, port), [])
            if len(lst) < self.max_idle:
                lst.append(conn)
                return
        conn.close()

    def _purge(self, host: str, port: int) -> None:
        """Drop every idle socket to a peer: once ONE reused socket
        proves stale (the peer process restarted), its siblings from
        the same old process are stale too — closing them now saves a
        detect-and-retry round trip per pooled socket."""
        with self._lock:
            lst = self._idle.pop((host, port), [])
        for c in lst:
            c.close()

    def send(
        self,
        host: str,
        port: int,
        method: str,
        path: str,
        body: bytes,
        headers: dict[str, str],
    ) -> tuple[int, bytes, str]:
        """One request over a pooled connection; returns (status, body,
        content_type). Possibly-post-apply OSErrors propagate (see the
        class docstring's phase rules)."""
        import http.client

        for fresh_retry in (False, True):
            # the retry is a genuinely fresh dial — never another
            # pooled socket from the same (possibly dead) peer process
            conn, reused = self._acquire(host, port, force_fresh=fresh_retry)
            try:
                conn.request(method, path, body=body, headers=headers)
            except OSError:
                conn.close()
                if reused and not fresh_retry:
                    # stale keep-alive; request never framed — and the
                    # peer's other idle sockets are stale siblings
                    self._purge(host, port)
                    continue
                raise
            try:
                resp = conn.getresponse()
                data = resp.read()
            except http.client.RemoteDisconnected:
                conn.close()
                if reused and not fresh_retry:
                    # zero response bytes on a REUSED socket: the peer
                    # closed it idle before this request was sent (the
                    # send only "succeeded" into the local buffer of a
                    # half-closed socket) — provably not applied
                    self._purge(host, port)
                    continue
                raise
            except OSError:
                conn.close()
                raise  # may be post-apply: caller owns the decision
            except http.client.HTTPException:
                # partial/garbled response bytes (BadStatusLine on a
                # half-written status, IncompleteRead): the peer SAW the
                # request and started answering, so this is just as
                # possibly-post-apply as a mid-response reset — close
                # and raise; the caller surfaces 503/errorOp rather
                # than duplicating
                conn.close()
                raise
            ctype = resp.headers.get("Content-Type", "application/json")
            if resp.will_close:
                conn.close()
            else:
                self._release(host, port, conn)
            return resp.status, data, ctype
        raise AssertionError("unreachable")

    def post_to_leader(
        self,
        registry,
        topic: str,
        topic_segment: str,
        qs: str,
        payload: bytes,
        headers: dict[str, str],
        attempts: int = 3,
    ) -> tuple[int, bytes, str]:
        """The shared leader-routing retry loop (one copy for the HTTP
        proxy and the binary server's frame reroute): re-resolve the
        leader from ``registry`` per attempt, retry on 307 (leadership
        moved) or connection refusal (nothing reached the leader); any
        possibly-post-apply failure raises RouteExhaustedError so the
        caller surfaces it instead of duplicating. Returns the leader's
        FINAL (status, body, content_type). ``topic`` feeds the
        rendezvous leader lookup; ``topic_segment`` is the URL path
        segment (percent-encoded)."""
        import http.client
        import time as _time

        last_err = "no live leader"
        for attempt in range(attempts):
            if attempt:
                _time.sleep(0.2)
            _lid, lhost, lport = registry.leader_for(topic)
            path = f"/v1/routing/topic/{topic_segment}/messages{qs}"
            try:
                status, data, ctype = self.send(
                    lhost, lport, "POST", path, payload, headers
                )
            except http.client.HTTPException as ex:
                # garbled response (BadStatusLine/IncompleteRead that
                # isn't a clean RemoteDisconnected): possibly post-apply
                # — do NOT re-send; surface so the client owns the
                # at-least-once retry, same as a mid-response reset
                last_err = f"{type(ex).__name__}: {ex}"
                break
            except OSError as ex:
                last_err = str(ex)
                if isinstance(ex, ConnectionRefusedError):
                    # nothing reached the leader — a retry cannot
                    # duplicate; re-resolve (a crashed leader's registry
                    # entry expires and rendezvous moves)
                    continue
                # timeout or reset AFTER the request was sent: the
                # leader may have already applied the write — the
                # CLIENT owns the at-least-once retry decision
                break
            if status == 307:
                last_err = "leadership moved during forward"
                continue  # re-resolve and retry
            return status, data, ctype
        raise RouteExhaustedError(last_err)

    def close_all(self) -> None:
        with self._lock:
            for lst in self._idle.values():
                for conn in lst:
                    conn.close()
            self._idle.clear()


class RouteExhaustedError(OSError):
    """post_to_leader could not get a (possibly-applied) answer from
    any leader attempt; the caller answers 503/errorOp so the CLIENT
    owns the retry."""
