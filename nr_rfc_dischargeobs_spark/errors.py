"""Shared error-classification helpers.

One place decides what "the store isn't there yet" looks like, because
its call sites (`sources.store.ObservationStore.read`, the landed-set
reads of `streaming.documents` and `streaming.ann`) make a fail-safe
decision on it: misreading a transient error as "fresh store" would make
an upsert merge against nothing and overwrite the stored months, and
misreading not-found as an error would make every first run raise.
"""

from __future__ import annotations

# The two expected "nothing there yet" conditions a parquet read raises:
# a root that does not exist, and a root that exists but holds no footers
# to infer a schema from.  Matched by the exception's structured error
# condition, not message text — error MESSAGES are not a compatibility
# surface across Spark versions, the condition names are (they are the
# documented error-class registry keys).
_MISSING_PATH_CONDITIONS = frozenset(
    {"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"}
)


def is_missing_path(ex: BaseException) -> bool:
    """True iff ``ex`` is Spark's "path absent / no data to infer" read
    failure.  Anything else — throttling, credentials, corruption — is
    NOT a fresh store and must be re-raised by the caller.

    PySpark 4 exposes the structured condition via
    ``PySparkException.getCondition()`` (``getErrorClass()`` before 4.0,
    kept as a deprecated alias).  Exceptions carrying NEITHER accessor —
    a raw Py4JJavaError that escaped PySpark's conversion layer, or an
    older wrapper — fall back to matching the structured condition
    TOKEN at the HEAD of the message: Spark formats every framework
    error as ``[CONDITION] message…``, and Py4J prefixes one
    ``An error occurred while calling …`` line plus the Java class
    name.  Only those leading positions are checked — a token quoted
    DEEP in a stack trace's cause chain (a job-abort wrapper whose
    retry log mentions ``[PATH_NOT_FOUND]`` around a genuinely
    different failure) must NOT classify as a fresh store, because a
    fresh store merges against nothing and then overwrites.  An
    exception with an accessor that reports a DIFFERENT condition never
    falls through to the text match — throttling, credentials,
    corruption stay loud.
    """
    getter = getattr(ex, "getCondition", None) or getattr(
        ex, "getErrorClass", None
    )
    if getter is None:
        import re

        # first 3 lines cover the Py4J preamble + the primary message;
        # a line matches only when the [TOKEN] LEADS it (after an
        # optional ': ' continuation and Java class-name prefix)
        # escape + sort: tokens are metachar-free today, but a future
        # dotted class name must not silently widen the alternation, and
        # sorting keeps the compiled pattern deterministic across runs
        head = r"^(?:: )?(?:[\w.$]+(?:Exception|Error):\s*)?\[({})\]".format(
            "|".join(re.escape(c) for c in sorted(_MISSING_PATH_CONDITIONS))
        )
        return any(
            re.match(head, line.strip())
            for line in str(ex).splitlines()[:3]
        )
    try:
        condition = getter()
    except Exception:  # noqa: BLE001 — classification must never raise
        return False
    return condition in _MISSING_PATH_CONDITIONS
