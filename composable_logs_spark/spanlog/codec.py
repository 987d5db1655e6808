"""Typed-value codec: the (type, encoding, encoded_content) triple.

Semantics match the reference's SerializedData
(task_opentelemetry_logging.py:105-158): supported logical types are
``utf-8, bytes, int, float, bool, json``; encodings are ``utf-8`` (plain
string), ``base64`` (bytes), ``json`` (everything else). Logging ``None``
is rejected (reference :137-138). Round-trip law: decode(encode(x)) == x.

``SerializedData`` is used by the orchestrator/logger when it writes
spans; the Spark-side decode into typed columns lives in
``plans/summarize.py`` (built-in CASE/cast, no UDF).
"""

from __future__ import annotations

import base64
import json
from dataclasses import dataclass
from typing import Any

VALID_TYPES = ("utf-8", "bytes", "int", "float", "bool", "json")
VALID_ENCODINGS = ("utf-8", "base64", "json")


@dataclass(frozen=True)
class SerializedData:
    type: str
    encoding: str
    encoded_content: str

    @classmethod
    def encode(cls, value: Any) -> "SerializedData":
        if value is None:
            raise ValueError("Logging null values is not supported")
        if isinstance(value, str):
            return cls("utf-8", "utf-8", value)
        if isinstance(value, bytes):
            return cls("bytes", "base64", base64.b64encode(value).decode("utf-8"))
        # bool before int: bool is a subclass of int in Python
        if isinstance(value, bool):
            return cls("bool", "json", json.dumps(value))
        if isinstance(value, int):
            return cls("int", "json", json.dumps(value))
        if isinstance(value, float):
            return cls("float", "json", json.dumps(value))
        try:
            return cls("json", "json", json.dumps(value))
        except Exception as e:
            raise ValueError(f"value of type {type(value)} is not loggable") from e

    def decode(self) -> Any:
        if self.type == "utf-8" and self.encoding == "utf-8":
            return self.encoded_content
        if self.type == "bytes" and self.encoding == "base64":
            return base64.b64decode(self.encoded_content)
        if self.type in ("int", "float", "bool", "json") and self.encoding == "json":
            return json.loads(self.encoded_content)
        raise ValueError(f"Unknown type/encoding pair ({self.type}, {self.encoding})")
