"""Structured Streaming variants of the incremental ingest loop."""

from __future__ import annotations

import threading


def drain(q, timeout_s: float) -> None:
    """``q.processAllAvailable()`` with a deadline.

    The wait runs on a helper thread, joined for at most ``timeout_s``
    seconds.  Past the deadline the query is stopped and
    :class:`TimeoutError` is raised, quoting the query's last
    ``recentProgress`` entry, so a crawling or stuck drain fails loudly
    with evidence of where it stood instead of hanging.  A query that
    fails while draining re-raises its own error here."""
    failed: list[Exception] = []

    def wait() -> None:
        try:
            q.processAllAvailable()
        except Exception as e:  # noqa: BLE001 -- re-raised below
            failed.append(e)

    waiter = threading.Thread(target=wait, name=f"drain-{q.id}", daemon=True)
    waiter.start()
    waiter.join(timeout_s)
    if waiter.is_alive():
        progress = q.recentProgress
        last = progress[-1].json if progress else "none"
        q.stop()
        raise TimeoutError(
            f"stream {q.name or q.id} not drained in {timeout_s:g} s; "
            f"last progress: {last}"
        )
    if failed:
        raise failed[0]
