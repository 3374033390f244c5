"""Column-level function library.

spatial  cell ids, covers, PIP refine (JVM expr where possible, pandas
         UDFs elsewhere).
text     language-ID, quality scores, tokenization, fingerprints,
         shingles and winnowing k-grams for dedup.
vector   embedding math (cosine, norms) — native F.aggregate/zip_with
         first, Arrow UDF fallback.
imaging  image decode/encode (raw/PNG from scratch, quantized-lossy
         stand-in for JPEG), perceptual hash, PSNR.
"""
