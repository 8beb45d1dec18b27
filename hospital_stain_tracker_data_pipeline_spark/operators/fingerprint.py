"""One fingerprint family per media modality, and the dedup plumbing
every family shares.

Image, audio and video near-dup dedup differ in exactly four things:
the fingerprint function (``multimodal.image_phash``,
``audio_fp.audio_fingerprint``, ``video_fp.video_phash``), the hash
column it emits (``phash`` / ``afp`` / ``vhash``), the parameters that
change its bits, and the bit width those parameters give. A frozen
``FingerprintFamily`` holds those four, plus the default
``max_hamming`` and the artifact tag that records the parameters.
Everything downstream is written once, taking a family:

- ``fp_dup_pairs``: fingerprint, then the pigeonhole Hamming banding
  (``dedup.hamming_pairs``);
- ``FingerprintFamily.match_corpus``: the corpus-wins gate against a
  persisted ``(media_id, hash)`` index;
- the index lifecycle in ``dedup`` (``save/append/load/remove_from/
  compact_fp_index``), one tagged artifact for all three families;
- the ``fp_index`` / ``fp_filter --kind`` CLI commands;
- the near-dup tier loop of ``pipeline.curate.curate_media``.

Payloads are decoded and fingerprinted where the bytes are
(Arrow-batched ``mapInPandas``); every join downstream moves
``(media_id, 8-byte hash)`` only.
"""

from __future__ import annotations

import re
import string
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .audio_fp import AFP_ALGO, AFP_NBITS, audio_fingerprint
from .dedup import (
    DEFAULT_MAX_BUCKET,
    hamming_pairs,
    hamming_pairs_against_corpus,
)
from .multimodal import image_phash
from .video_fp import video_phash

# range check per parameter name, shared by every family that takes it
_PARAM_CHECKS: dict[str, tuple[Callable[[object], bool], str]] = {
    "algo": (
        lambda v: v in ("dhash", "ahash"),
        "unknown phash algo {v!r} (dhash|ahash)",
    ),
    "hash_size": (
        lambda v: isinstance(v, int) and 1 <= v <= 8,
        "hash_size={v} out of range — the LONG fingerprint caps at 64 "
        "bits (1 <= hash_size <= 8)",
    ),
    "n_samples": (
        lambda v: isinstance(v, int) and v >= 1,
        "n_samples={v} out of range (n_samples >= 1)",
    ),
}


@dataclass(frozen=True)
class FingerprintFamily:
    """One media fingerprint family: ``fn(media, **params,
    fake_decode=...)`` emits ``(media_id, mime, <hash_col>, ...,
    decoded)``; ``defaults`` lists its parameters in order with their
    defaults; ``nbits(params)`` gives the fingerprint width for a
    parameter set; ``tag_format`` renders the artifact tag (a ``str.format``
    template over the parameters, parsed back by ``parse_tag``);
    ``legacy_cols`` maps the columns of a pre-tag artifact layout to
    parameter names (read-only support, see ``dedup.load_fp_index``)."""

    name: str
    fn: Callable[..., DataFrame]
    hash_col: str
    defaults: tuple[tuple[str, object], ...]
    nbits: Callable[[dict], int]
    max_hamming: int
    tag_format: str
    legacy_cols: tuple[tuple[str, str], ...] = ()

    def params(self, **given) -> dict:
        """The full, range-checked parameter set: ``given`` over the
        defaults. A parameter this family does not take is an error,
        never silently ignored."""
        unknown = sorted(set(given) - {k for k, _ in self.defaults})
        if unknown:
            raise ValueError(
                f"the {self.name} fingerprint takes no parameter(s) "
                f"{unknown} (it takes {[k for k, _ in self.defaults]})"
            )
        out = {k: given.get(k, d) for k, d in self.defaults}
        for k, v in out.items():
            ok, msg = _PARAM_CHECKS[k]
            if not ok(v):
                raise ValueError(msg.format(v=v))
        return out

    def tag(self, params: dict) -> str:
        return self.tag_format.format(**params)

    def parse_tag(self, tag: str) -> dict:
        """Inverse of ``tag``: the parameter set a tag records. Raises
        on a tag of another family or revision, or one that does not
        re-render byte-for-byte (so ``08`` never passes for ``8``)."""
        pattern = "".join(
            re.escape(lit) + (f"(?P<{field}>[^:]*)" if field else "")
            for lit, field, _, _ in string.Formatter().parse(self.tag_format)
        )
        m = re.fullmatch(pattern, tag)
        try:
            if m is None:
                raise ValueError(tag)
            types = dict(self.defaults)
            params = self.params(
                **{k: type(types[k])(v) for k, v in m.groupdict().items()}
            )
            if self.tag(params) != tag:
                raise ValueError(tag)
        except ValueError:
            raise ValueError(
                f"fingerprint tag {tag!r} does not match the {self.name} "
                f"family/revision {self.tag_format!r} — rebuild the index"
            ) from None
        return params

    def fingerprint(
        self, media: DataFrame, fake_decode: bool = False, **params
    ) -> DataFrame:
        return self.fn(media, **self.params(**params), fake_decode=fake_decode)

    def match_corpus(
        self,
        fps: DataFrame,
        corpus_index: DataFrame,
        params: dict,
        max_hamming: int | None = None,
        max_bucket: int | None = DEFAULT_MAX_BUCKET,
        telemetry: dict | None = None,
    ) -> DataFrame:
        """Distinct ``media_id``s of fingerprints ``fps`` within
        ``max_hamming`` bits of anything in ``corpus_index`` — the
        cross-set band join behind the CLI filter; a left-anti join
        of the probe on these ids keeps the survivors (corpus wins)."""
        return (
            hamming_pairs_against_corpus(
                fps,
                corpus_index,
                hash_col=self.hash_col,
                id_col="media_id",
                nbits=self.nbits(params),
                max_hamming=(
                    self.max_hamming if max_hamming is None else max_hamming
                ),
                max_bucket=max_bucket,
                telemetry=telemetry,
            )
            .select(F.col("new_id").alias("media_id"))
            .distinct()
        )


IMAGE = FingerprintFamily(
    name="image",
    fn=image_phash,
    hash_col="phash",
    defaults=(("algo", "dhash"), ("hash_size", 8)),
    nbits=lambda p: p["hash_size"] ** 2,
    max_hamming=3,
    tag_format="phash-v1:{algo}:{hash_size}",
    legacy_cols=(("_phash_algo", "algo"), ("_phash_size", "hash_size")),
)
AUDIO = FingerprintFamily(
    name="audio",
    fn=audio_fingerprint,
    hash_col="afp",
    defaults=(),
    nbits=lambda p: AFP_NBITS,
    max_hamming=4,
    tag_format=AFP_ALGO,
)
VIDEO = FingerprintFamily(
    name="video",
    fn=video_phash,
    hash_col="vhash",
    defaults=(("algo", "dhash"), ("hash_size", 8), ("n_samples", 8)),
    nbits=lambda p: p["hash_size"] ** 2,
    max_hamming=4,
    tag_format="vphash-v1:{algo}:{hash_size}:n_samples={n_samples}",
)
FAMILIES = {f.name: f for f in (IMAGE, AUDIO, VIDEO)}


def fp_dup_pairs(
    media: DataFrame,
    family: FingerprintFamily,
    max_hamming: int | None = None,
    fake_decode: bool = False,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    **params,
) -> DataFrame:
    """Near-duplicate pairs of one modality: ``family`` fingerprints
    the payloads, then the pigeonhole Hamming banding
    (``dedup.hamming_pairs``) returns ``(id_a, id_b, hamming)`` for
    every pair within ``max_hamming`` bits (the family default when
    None). Exact recall at the fingerprint level; payloads never
    enter a shuffle — candidates and verify run on (id, 8 bytes)."""
    params = family.params(**params)
    return hamming_pairs(
        family.fingerprint(media, fake_decode, **params),
        hash_col=family.hash_col,
        id_col="media_id",
        nbits=family.nbits(params),
        max_hamming=family.max_hamming if max_hamming is None else max_hamming,
        max_bucket=max_bucket,
    )

