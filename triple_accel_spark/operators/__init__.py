"""DataFrame-level pipeline operators.

``assemble``    turns -> per-conversation documents (stable ordering).
``blocking``    q-gram / MinHash-band / prefix blocking keys.
``pairs``       the one salted candidate-generation core: self-join
                pairs and two-table links (re-exported by ``linkage``).
``scoring``     k-cutoff prefilter + vectorized pair scoring.
``clustering``  connected components (large-star/small-star) with
                checkpoint/resume.
``dedup``       exact / MinHash-LSH / SimHash / n-gram-Jaccard /
                embedding near-duplicate detection.
``similarity``  brute-force and LSH-bucketed cosine top-k ANN.
``text``        language-ID, quality scoring, token counts,
                fingerprinting.
``multimodal``  binary-column (image/audio) plumbing with stubbed
                decoders.
``lineage``     per-partition lineage/metrics census committed per
                checkpoint (idempotent parquet sink).
"""
