"""Corpus-side operators kept outside the KG engine.

Text analysis (``textops``), code-corpus ops (``codeops``) and image/audio
decoding (``multimodal``). No build or serve path imports this package.
"""
