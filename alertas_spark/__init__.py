from alertas_spark import _zipfix

_zipfix.install()
