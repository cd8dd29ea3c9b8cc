"""Named annotator registry — the engine API SURVEY §2.9 specifies:
``register_annotator(name, urls, mode, params, retries)``.

Registered annotators are *factories* (executor-side construction; clients
aren't picklable) addressable by name from config files and plans:

    register_annotator("bioyodie", urls=[...], mode="gate-nlp")
    pipe = AnnotationPipeline(get_annotator("bioyodie"))

``annotator_factory`` is the one place that turns endpoint settings into
an annotator factory (the CLI calls it too); a ``fake://`` URL resolves to
the deterministic test annotator.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial
from typing import Any

from annotations_ingester_spark.annotator.fake import DeterministicFakeAnnotator
from annotations_ingester_spark.annotator.service import Annotator, HttpNlpClient

_REGISTRY: dict[str, Callable[[], Annotator]] = {}


def fake_endpoints(urls: list[str]) -> bool:
    """True when ``urls`` name the deterministic fake: no service to reach."""
    return bool(urls) and urls[0].startswith("fake://")


def annotator_factory(
    urls: list[str],
    mode: str = "medcat",
    params: dict[str, Any] | None = None,
    retries: int = 1,
    auth: tuple[str, str] | None = None,
    threads: int = 8,
    max_in_flight: int | None = None,
) -> Callable[[], Annotator]:
    """Endpoint settings → a picklable per-task annotator factory: the
    deterministic fake for ``fake://`` URLs, else an :class:`HttpNlpClient`
    whose pool of ``threads`` (capped by ``max_in_flight``) bounds the
    task's calls in flight. The CLI and :func:`register_annotator` both
    build their annotators here."""
    if fake_endpoints(urls):
        return partial(DeterministicFakeAnnotator, mode)
    return partial(
        HttpNlpClient, list(urls), mode=mode, application_params=dict(params or {}),
        max_retries=retries, auth=auth, threads=threads, max_in_flight=max_in_flight,
    )


def register_annotator(
    name: str,
    urls: list[str] | None = None,
    mode: str = "medcat",
    params: dict[str, Any] | None = None,
    retries: int = 1,
    auth: tuple[str, str] | None = None,
    factory: Callable[[], Annotator] | None = None,
    max_in_flight: int | None = None,
) -> None:
    """Register a named annotator. Pass either connection details (an
    annotator is built per task by :func:`annotator_factory`) or an
    explicit ``factory``."""
    _REGISTRY[name] = factory or annotator_factory(
        urls or [], mode, params, retries, auth, max_in_flight=max_in_flight
    )


def get_annotator(name: str) -> Callable[[], Annotator]:
    if name not in _REGISTRY:
        raise KeyError(f"no annotator registered under {name!r}; have {sorted(_REGISTRY)}")
    return _REGISTRY[name]


def list_annotators() -> list[str]:
    return sorted(_REGISTRY)


# Built-ins: the deterministic fakes used by tests/oracles.
register_annotator("fake-medcat", urls=["fake://nlp"], mode="medcat")
register_annotator("fake-gate", urls=["fake://nlp"], mode="gate-nlp")
