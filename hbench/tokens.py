"""Seeded ES384 identity provider for the serve workloads: one P-384
key derived from the seed, and one deterministic (RFC 6979) signed
JWT per tenant, so the same seed always yields the same tokens."""

from __future__ import annotations

import base64
import json
import random

from cryptography.hazmat.primitives import hashes
from cryptography.hazmat.primitives.asymmetric import ec
from cryptography.hazmat.primitives.asymmetric.utils import decode_dss_signature

from hematite_spark.api.es384 import N, jwk_from_public

ISSUER = "https://idp.hbench.invalid/"
AUDIENCE = "hematite"
KID = "hbench-key"
# far-future expiry: tokens never depend on the wall clock
EXPIRY = 4102444800


def _b64(raw: bytes) -> str:
    return base64.urlsafe_b64encode(raw).rstrip(b"=").decode()


class IdentityProvider:
    def __init__(self, seed: int) -> None:
        rng = random.Random(f"idp-{seed}")
        self._key = ec.derive_private_key(1 + rng.randrange(N - 1), ec.SECP384R1())
        nums = self._key.public_key().public_numbers()
        self.jwks = {"keys": [jwk_from_public((nums.x, nums.y), kid=KID)]}

    def token(self, sub: str) -> str:
        header = {"alg": "ES384", "typ": "JWT", "kid": KID}
        claims = {"sub": sub, "iss": ISSUER, "aud": AUDIENCE, "exp": EXPIRY}
        signing_input = ".".join(
            _b64(json.dumps(part, separators=(",", ":")).encode()) for part in (header, claims)
        )
        der = self._key.sign(
            signing_input.encode(), ec.ECDSA(hashes.SHA384(), deterministic_signing=True)
        )
        r, s = decode_dss_signature(der)
        return f"{signing_input}.{_b64(r.to_bytes(48, 'big') + s.to_bytes(48, 'big'))}"
