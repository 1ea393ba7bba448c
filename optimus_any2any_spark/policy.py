"""Reliability / execution-policy layer (SURVEY.md §2.7).

- Retry with exponential backoff (reference: common/common.go:294-315 —
  RETRY_MAX attempts, backoff doubling from RETRY_BACKOFF_MS) for
  driver-side actions and transport calls. Task-level retries inside
  jobs are Spark's own (spark.task.maxFailures).
- Dry-run validation (reference: common/common.go:149-171 DryRunable;
  EXPLAIN for queries ext/maxcompute/source.go:249-271, TCP
  connectivity for transports internal/ext/net/check.go:84-121).
- Observability: a QueryExecutionListener counting rows/duration per
  action ≙ the reference's OTel per-component metrics
  (internal/component/common/commonmetric.go:15-73).
"""

from __future__ import annotations

import socket
import time
from dataclasses import dataclass, field
from typing import Any, Callable, TypeVar

T = TypeVar("T")


def retry(
    fn: Callable[[], T],
    max_attempts: int = 3,
    backoff_ms: int = 1000,
    retryable: tuple[type[BaseException], ...] = (Exception,),
    sleep: Callable[[float], None] = time.sleep,
) -> T:
    """RETRY_MAX attempts with 2^i * RETRY_BACKOFF_MS backoff
    (common/common.go:310-311 doubling)."""
    last: BaseException | None = None
    for attempt in range(max_attempts):
        try:
            return fn()
        except retryable as e:  # noqa: PERF203
            last = e
            if attempt < max_attempts - 1:
                sleep((2**attempt) * backoff_ms / 1000.0)
    assert last is not None
    raise last


def check_connectivity(host: str, port: int, timeout_s: float = 3.0) -> bool:
    """Dry-run TCP reachability check (internal/ext/net/check.go:41-47)."""
    try:
        with socket.create_connection((host, port), timeout=timeout_s):
            return True
    except OSError:
        return False


def parse_conn_address(address: str) -> tuple[str, int]:
    """The address-parsing half of the reference's ConnCheck
    (internal/ext/net/check.go:11-40): a URL form takes hostname +
    explicit port, else the scheme default (http=80, https=443, any
    other scheme without a port is an error); a non-URL form must be
    host:port (IPv6 bracketed). Raises ValueError exactly where the
    reference returns an error."""
    from urllib.parse import urlsplit

    u = urlsplit(address)
    if u.netloc:
        host = u.hostname or ""
        port = u.port
        if port is None:
            if u.scheme == "http":
                port = 80
            elif u.scheme == "https":
                port = 443
            else:
                raise ValueError("unsupported scheme")
        return host, int(port)
    # host:port (net.SplitHostPort): bracketed IPv6 supported
    if address.startswith("["):
        host, sep, rest = address[1:].partition("]:")
        if not sep or not rest.isdigit():
            raise ValueError(f"address {address}: missing port in address")
        return host, int(rest)
    host, sep, port_s = address.rpartition(":")
    if not sep or not host or not port_s.isdigit():
        raise ValueError(f"address {address}: missing port in address")
    return host, int(port_s)


def conn_check(address: str, timeout_s: float = 3.0) -> bool:
    """Full ConnCheck parity: parse the address (URL or host:port),
    then the TCP dial. Unparseable addresses raise (the reference's
    error return); unreachable ones return False."""
    host, port = parse_conn_address(address)
    return check_connectivity(host, port, timeout_s=timeout_s)


@dataclass
class ActionMetrics:
    """Per-action metrics — the Spark-native replacement for the
    reference's per-component OTel counters (record count / duration,
    internal/component/common/commonmetric.go:15-73).

    Two collection paths:

    - ``observe()``/``harvest()`` — the primary path, built on
      ``pyspark.sql.Observation`` (a JVM-side CollectMetrics node, so it
      needs no Py4J callback server and costs one map-side count — no
      extra job, no shuffle).
    - ``attach()`` — QueryExecutionListener registration for
      environments where the gateway callback server runs; a no-op
      otherwise.
    """

    records: list[dict[str, Any]] = field(default_factory=list)
    _pending: list[tuple[str, float, Any]] = field(default_factory=list)

    def observe(self, df, component: str):
        """Instrument ``df`` with a row-count observation attributed to
        ``component``; call :meth:`harvest` after the action runs."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        self._pending.append((component, time.monotonic(), obs))
        return df.observe(
            obs,
            F.count(F.lit(1)).alias("records"),
        )

    def harvest(self) -> None:
        """Collect every pending observation (blocks until the observed
        actions have completed) into :attr:`records`."""
        for component, t0, obs in self._pending:
            row = obs.get
            self.records.append(
                {
                    "action": component,
                    "rows": row.get("records"),
                    "duration_ms": (time.monotonic() - t0) * 1000.0,
                }
            )
        self._pending.clear()

    def attach(self, spark) -> None:
        from pyspark.sql import DataFrame  # noqa: F401

        metrics = self.records

        class _Listener:
            def onSuccess(self, funcName, qe, durationNs):
                try:
                    metrics.append(
                        {
                            "action": funcName,
                            "duration_ms": durationNs / 1e6,
                        }
                    )
                except Exception:
                    pass

            def onFailure(self, funcName, qe, exception):
                metrics.append({"action": funcName, "error": str(exception)})

            class Java:
                implements = [
                    "org.apache.spark.sql.util.QueryExecutionListener"
                ]

        # Python-side listener registration requires the gateway callback
        # server; fall back to no-op when it is not running (tests can
        # still use record() manually).
        try:
            spark._jvm  # noqa: B018
            spark.streams  # touch session
            spark._jsparkSession.listenerManager().register(_Listener())
        except Exception:
            pass

    def record(self, action: str, duration_ms: float, rows: int | None = None):
        self.records.append(
            {"action": action, "duration_ms": duration_ms, "rows": rows}
        )
