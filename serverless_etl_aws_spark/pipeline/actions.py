"""Action dispatcher — the reference's s3_operations Lambda API surface
(reference: src/lambda_functions/s3_operations.py:75-118: routes
``{action: get_unprocessed | mark_processed | archive}`` events and
returns ``{statusCode, body}`` envelopes).

In the engine these operations are owned by the streaming checkpoint
(discovery/commit) and the archive util, so the dispatcher exists for
API familiarity during migration: a caller that spoke the Lambda's event
protocol can speak the same protocol here.

- ``get_unprocessed`` → files present in bronze but not yet in the
  checkpoint's file-source log (what the next ``run_once`` will drain).
- ``mark_processed`` → no-op by design: the checkpoint commits processing
  state transactionally with the write; manual marking would reintroduce
  the reference's crash window (bronze_to_silver.py:85-89). Returns an
  explanatory envelope rather than pretending to act.
- ``archive`` → :func:`..pipeline.archive.archive_file`.
"""

from __future__ import annotations

import json
import os
from typing import Any, Callable

from .archive import archive_file
from .ingest import seen_source_files


def dispatch(event: dict, handlers: dict[str, Callable[[dict], Any]]) -> dict:
    """The reference's Lambda protocol (s3_operations.py:97-115): route
    ``event["action"]`` to its handler and wrap the reply in a
    ``{statusCode, body}`` envelope — 200 with the handler's payload,
    400 for an unknown action or a missing event field, 500 with the
    error otherwise."""
    action = event.get("action")
    if not isinstance(action, str) or action not in handlers:
        return _envelope(400, {"error": f"unknown action {action!r}"})
    try:
        return _envelope(200, handlers[action](event))
    except KeyError as exc:
        return _envelope(400, {"error": f"missing field {exc}"})
    except Exception as exc:  # mirror the reference's error envelope
        return _envelope(500, {"error": str(exc)})


def _envelope(status: int, payload: Any) -> dict:
    return {"statusCode": status, "body": json.dumps(payload)}


class ActionDispatcher:
    def __init__(self, bronze_dir: str, checkpoint_dir: str, archive_root: str):
        self.bronze_dir = bronze_dir
        self.checkpoint_dir = checkpoint_dir
        self.archive_root = archive_root

    # -- handlers ----------------------------------------------------------
    def get_unprocessed(self) -> list[str]:
        """Reference: S3FileProcessor.get_unprocessed_files
        (s3_operations.py:13-38) — tag-predicate listing becomes a diff of
        the bronze listing against the checkpoint's seen-files log."""
        seen = seen_source_files(self.checkpoint_dir)
        out = []
        for root, _dirs, files in os.walk(self.bronze_dir):
            for fn in files:
                if fn.startswith((".", "_")):
                    continue
                path = os.path.abspath(os.path.join(root, fn))
                if path not in seen:
                    out.append(path)
        return sorted(out)

    def archive(self, path: str) -> str:
        """Reference: archive_file (s3_operations.py:58-72)."""
        return archive_file(path, self.archive_root)

    # -- protocol ----------------------------------------------------------
    def handle(self, event: dict) -> dict:
        return dispatch(
            event,
            {
                "get_unprocessed": lambda e: {
                    "files": self.get_unprocessed()
                },
                "mark_processed": lambda e: {
                    "noop": True,
                    "reason": "processing state is committed by the "
                    "streaming checkpoint atomically with the write",
                },
                "archive": lambda e: {"archived_to": self.archive(e["key"])},
            },
        )
