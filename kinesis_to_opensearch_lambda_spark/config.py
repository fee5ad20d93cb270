"""Engine configuration surface (SURVEY.md §1.4).

The reference configures itself from env vars + an AWS Secrets Manager
secret (lambda_function.py:14,25-41,57-59,105-112).  The engine keeps
the same knobs and the same secret-decoding semantics (string vs
base64-binary branch) but takes them by plain injection — no AWS
dependency in the data plane.
"""

from __future__ import annotations

import base64
import binascii
import json
import os
from dataclasses import dataclass
from typing import Any


def decode_secret(secret_string: str | None = None, secret_binary: bytes | str | None = None) -> dict[str, Any]:
    """The reference's secret decode branch (lambda_function.py:31-39):
    prefer the string form; else base64-decode the binary form; parse
    JSON either way."""
    if secret_string is not None:
        return json.loads(secret_string)
    if secret_binary is None:
        return {}
    try:
        raw = base64.b64decode(secret_binary)
    except (binascii.Error, ValueError):
        raw = secret_binary if isinstance(secret_binary, bytes) else secret_binary.encode()
    return json.loads(raw)


@dataclass
class EngineConfig:
    """Pipeline configuration: reference env-var surface
    (lambda_function.py:57-59) + secret-carried Splunk settings
    (:110-112)."""

    es_endpoint: str = ""
    index_prefix: str = "logs-"          # lambda_function.py:59
    splunk_hec_url: str = ""             # secret["splunk_hec_url"] (:110)
    splunk_hec_token: str = ""           # secret["splunk_hec_token"] (:111)
    splunk_index: str = "main"           # secret["splunk_index"] (:112)
    splunk_disabled: Any = None          # secret.get("splunk_disabled") (:106)
    auth_user: str | None = None         # basic-auth branch (:61-64)
    auth_password: str | None = None

    @property
    def auth_mode(self) -> str:
        """Basic auth when credentials came from the secret, else
        SigV4-style ambient signing (lambda_function.py:61-66)."""
        return "basic" if self.auth_user and self.auth_password else "sigv4"

    @classmethod
    def from_env_and_secret(
        cls,
        env: dict[str, str] | None = None,
        secret_string: str | None = None,
        secret_binary: bytes | str | None = None,
    ) -> "EngineConfig":
        env = dict(os.environ) if env is None else env
        secret = decode_secret(secret_string, secret_binary)
        return cls(
            es_endpoint=env.get("es_endpoint", ""),
            index_prefix=env.get("index_prefix", "logs-"),
            splunk_hec_url=secret.get("splunk_hec_url", ""),
            splunk_hec_token=secret.get("splunk_hec_token", ""),
            splunk_index=secret.get("splunk_index", "main"),
            splunk_disabled=secret.get("splunk_disabled"),
            # Reference secret keys (lambda_function.py:63):
            # master_user_name / master_user_password.  Generic
            # user/password accepted as a fallback spelling.
            auth_user=secret.get("master_user_name", secret.get("user")),
            auth_password=secret.get(
                "master_user_password", secret.get("password")
            ),
        )
