"""Config-surface tests: secret string-vs-binary decode branch and
auth-mode selection (reference lambda_function.py:25-41,61-66)."""

from __future__ import annotations

import base64
import json

from kinesis_to_opensearch_lambda_spark.config import EngineConfig, decode_secret

SECRET = {
    "splunk_hec_url": "https://hec.example/collector",
    "splunk_hec_token": "tok-1",
    "splunk_index": "audit",
    "splunk_disabled": "false",
    "user": "svc",
    "password": "pw",
}


def test_secret_string_branch():
    assert decode_secret(secret_string=json.dumps(SECRET)) == SECRET


def test_secret_binary_branch_base64():
    blob = base64.b64encode(json.dumps(SECRET).encode())
    assert decode_secret(secret_binary=blob) == SECRET


def test_config_from_env_and_secret():
    cfg = EngineConfig.from_env_and_secret(
        env={"es_endpoint": "https://es.example", "index_prefix": "audit-"},
        secret_string=json.dumps(SECRET),
    )
    assert cfg.es_endpoint == "https://es.example"
    assert cfg.index_prefix == "audit-"
    assert cfg.splunk_index == "audit"
    assert cfg.auth_mode == "basic"          # creds present (:61-64)
    assert cfg.splunk_disabled == "false"    # truthy-but-enabled quirk


def test_auth_mode_sigv4_without_creds():
    cfg = EngineConfig.from_env_and_secret(env={}, secret_string="{}")
    assert cfg.auth_mode == "sigv4"          # no secret creds (:65-66)


def test_reference_shaped_secret_keys_enable_basic_auth():
    """ADVICE r1: the reference secret carries master_user_name /
    master_user_password (lambda_function.py:63) — a reference-shaped
    secret must NOT silently degrade to sigv4."""
    cfg = EngineConfig.from_env_and_secret(
        env={},
        secret_string=json.dumps(
            {"master_user_name": "admin", "master_user_password": "s3cret"}
        ),
    )
    assert cfg.auth_user == "admin"
    assert cfg.auth_password == "s3cret"
    assert cfg.auth_mode == "basic"


def test_generic_user_password_fallback_still_works():
    cfg = EngineConfig.from_env_and_secret(
        env={}, secret_string=json.dumps({"user": "svc", "password": "pw"})
    )
    assert cfg.auth_mode == "basic"
    assert cfg.auth_user == "svc"
