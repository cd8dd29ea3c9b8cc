"""Driver-side utility: the service health gate (S11).

Reference: ingester/utils.py:7-14 (``check_url_available``). The S9 admin
op (ingester/es_common.py:162-167, ``drop_index``) is
``sources.es_rest.EsRestClient.drop_index``. The duplicate-record
removal util (utils.py:16-19) is subsumed by ``dropDuplicates`` /
``distinct`` and by each sink keeping one row per mapping id.
"""

from __future__ import annotations

import logging

log = logging.getLogger(__name__)


def check_url_available(urls: list[str], timeout: float = 10.0) -> bool:
    """Pre-flight liveness probe on service endpoints before starting a
    job/stream (reference: utils.py:7-14 — GET each URL, all must answer)."""
    import urllib.request

    for url in urls:
        try:
            with urllib.request.urlopen(url, timeout=timeout) as resp:
                if resp.status >= 400:
                    return False
        except Exception as exc:
            log.warning("endpoint %s unavailable: %s", url, exc)
            return False
    return True
