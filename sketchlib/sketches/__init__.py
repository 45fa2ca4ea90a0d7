"""Pure-numpy mergeable sketches (SURVEY.md §2B). No Spark imports here —
this package must be importable inside executor Python workers with zero
JVM context.
"""

from sketchlib.sketches.base import SketchBase, deserialize  # noqa: F401
from sketchlib.sketches.bloom import Bloom  # noqa: F401
from sketchlib.sketches.cm import CountMin  # noqa: F401
from sketchlib.sketches.dd import DDSketch  # noqa: F401
from sketchlib.sketches.fd import FrequentDirections  # noqa: F401
from sketchlib.sketches.hll import HLL  # noqa: F401
from sketchlib.sketches.kll import KLL  # noqa: F401
from sketchlib.sketches.kmv import KMV  # noqa: F401
from sketchlib.sketches.mg import MisraGries  # noqa: F401
from sketchlib.sketches.minhash import MinHash  # noqa: F401
from sketchlib.sketches.tdigest import TDigest  # noqa: F401

ALL_KINDS = ("hll", "cm", "mg", "tdigest", "kll", "dd", "bloom", "minhash", "kmv", "fd")
